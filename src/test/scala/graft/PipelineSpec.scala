package graft

import org.apache.spark.sql.functions._

/** p1's claim is COMPOSITION: each funnel stage must agree with the
  * standalone operator whose expression tree it reuses. These drills
  * check the funnel against t1/t2/t4/d7's own outputs, doc-set-level
  * where the report only shows counts.
  */
class PipelineSpec extends SparkSpec {

  private def funnel: Map[String, (Long, Long, Long, Long)] =
    run("p1_curation_funnel").collect().map { r =>
      r.getAs[String]("stage") -> ((r.getAs[Long]("n_in"),
        r.getAs[Long]("n_out"), r.getAs[Long]("n_dropped"),
        r.getAs[Long]("toks_out")))
    }.toMap

  private def stageDocs: Map[String, Set[Long]] = {
    val t = Tables(spark, sf)
    graft.operators.Pipeline
      .stages(t.documents.select("doc_id", "text"), 0.35, 5, 97L)
      .map { case (n, df) =>
        n -> df.select("doc_id").collect().map(_.getLong(0)).toSet
      }.toMap
  }

  test("p1 funnel: 6 chained rows — n_in threads, drops add up, " +
      "docs and tokens are non-increasing, every stage bites") {
    val rows = run("p1_curation_funnel").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Int]("ord")).toSeq == (0 to 5))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_out"))
      assert(b.getAs[Long]("n_out") <= b.getAs[Long]("n_in"))
      assert(b.getAs[Long]("toks_out") <= a.getAs[Long]("toks_out"))
    }
    rows.foreach(r => assert(r.getAs[Long]("n_dropped") ==
      r.getAs[Long]("n_in") - r.getAs[Long]("n_out")))
    // the synthetic corpus exercises the quality, language, near-dup
    // and decontamination cuts (exact dup text only exists at sf0.1)
    val f = funnel
    assert(f("quality")._3 > 0 && f("language")._3 > 0 &&
      f("near_dedup")._3 > 0 && f("decontaminate")._3 > 0)
  }

  test("p1 quality stage = t2's own score cut; language stage = t1's " +
      "own 'en' argmax over the quality survivors") {
    val docs = stageDocs
    val t2en = run("t2_quality_score").collect()
      .filter(_.getAs[Double]("q_score") >= 0.35)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(docs("quality") == t2en)
    val t1en = run("t1_langid").collect()
      .filter(_.getAs[String]("pred_lang") == "en")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(docs("language") == docs("quality").intersect(t1en))
  }

  test("p1 near-dedup keeps exactly one doc per t4 fingerprint; " +
      "exact dedup one per content md5") {
    val docs = stageDocs
    val fp = run("t4_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("fingerprint"))).toMap
    val kept = docs("near_dedup").toSeq.flatMap(id => fp(id).map(_ -> id))
    assert(kept.groupBy(_._1).forall(_._2.size == 1),
      "two near-dedup survivors share a fingerprint")
    // and every dropped doc lost to a SMALLER-id survivor with the
    // same fingerprint (keep-min-id policy)
    val surv = kept.toMap
    (docs("exact_dedup") -- docs("near_dedup")).foreach { id =>
      val f = fp(id).get
      assert(surv(f) < id)
    }
  }

  test("p1 decontamination = d7's contract: no survivor is a bench " +
      "doc or shares a 5-gram with one; facade returns the same set") {
    val docs = stageDocs
    val contaminated = run("d7_decontaminate").collect()
      .map(_.getAs[Long]("train_id")).toSet
    docs("decontaminate").foreach { id =>
      assert(id % 97 != 0, s"bench doc $id survived")
      assert(!contaminated(id), s"contaminated doc $id survived")
    }
    // the stage dropped ONLY bench/contaminated docs
    (docs("near_dedup") -- docs("decontaminate")).foreach { id =>
      assert(id % 97 == 0 || contaminated(id))
    }
    val t = Tables(spark, sf)
    val curated = graft.api.Graft
      .curate(t.documents, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curated == docs("decontaminate"))
  }

  // ------------------------------------------------------------------
  // p2: the RAG ingest pipeline's composition claims
  // ------------------------------------------------------------------

  private def p2Report: Map[String, (Long, Long)] =
    run("p2_rag_ingest").collect().map { r =>
      r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("aux")))
    }.toMap

  test("p2 classify stage = r1's own action census; every routed " +
      "body equals the named operator's own output (r2 body_md5 for " +
      "docs, r12 md_md5 for notebooks, r16 out_md5 for code)") {
    val t = Tables(spark, sf)
    val rep = p2Report
    val r1 = run("r1_classify_files").groupBy("action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = r1.getOrElse("doc", 0L) + r1.getOrElse("code", 0L)
    assert(rep("classify") == ((kept, r1.values.sum - kept)))
    val cls = run("r1_classify_files").select("doc_id", "ext", "action")
    val routed = graft.operators.Pipeline.ragTables(t)("routed")
      .select(col("doc_id"), md5(col("body")).as("m"))
    assert(rep("normalize")._1 == kept, "normalize row lost kept docs")
    def mismatches(ids: org.apache.spark.sql.DataFrame,
        opOut: org.apache.spark.sql.DataFrame): Long =
      routed.join(ids, "doc_id").join(opOut, "doc_id")
        .filter(col("m") =!= col("op_md5")).count()
    assert(mismatches(
      cls.filter(col("action") === "doc").select("doc_id"),
      run("r2_frontmatter")
        .select(col("doc_id"), col("body_md5").as("op_md5"))) == 0,
      "a doc-routed body diverged from r2's own strip")
    assert(mismatches(
      cls.filter(col("action") === "code" && col("ext") === "ipynb")
        .select("doc_id"),
      run("r12_notebook_cells")
        .select(col("doc_id"), col("md_md5").as("op_md5"))) == 0,
      "an ipynb-routed body diverged from r12's own markdown export")
    assert(mismatches(
      cls.filter(col("action") === "code" && col("ext") =!= "ipynb")
        .select("doc_id"),
      run("r16_llm_rewrite")
        .select(col("doc_id"), col("out_md5").as("op_md5"))) == 0,
      "a code-routed body diverged from r16's own rewrite")
  }

  test("p2 chunk stage = r4's sliding rule over the routed bodies; " +
      "tf tower = r5's termFreq shape at chunk granularity") {
    val t = Tables(spark, sf)
    val tbl = graft.operators.Pipeline.ragTables(t)
    val expected = graft.api.Graft
      .chunk(tbl("routed"), "doc_id", "body", 200, 100)
      .select((col("doc_id") * 1000000L + col("start")).as("chunk_id"),
        md5(col("chunk")).as("m"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val staged = tbl("chunks")
      .select(col("chunk_id"), md5(col("chunk")).as("m"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(staged == expected, "staged chunks drifted from r4's rule")
    val tfRecomputed = tbl("chunks")
      .select(col("chunk_id"),
        explode(graft.functions.Text.tokenize(col("chunk"))).as("term"))
      .groupBy("chunk_id", "term").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val tfStaged = tbl("tf").collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[String]("term"),
        r.getAs[Long]("tf"))).toSet
    assert(tfStaged == tfRecomputed, "tf tower drifted from r5's shape")
  }

  test("p2 serving answers r8/r18 queries from the BUILT towers: " +
      "BM25 top-5 reconciles with the report row; the dense tower " +
      "serves cosine top-k; RRF fuses both") {
    val t = Tables(spark, sf)
    val tbl = graft.operators.Pipeline.ragTables(t)
    val rep = p2Report
    // r8's query through the staged sparse tower = the gated row
    val lex = graft.operators.Search.searchBm25From(
      tbl("tf").withColumnRenamed("chunk_id", "doc_id"),
      graft.operators.Search.queryTerms, 5)
    val hits = lex.collect()
    assert(rep("serving") ==
      ((hits.length.toLong, hits.map(_.getLong(0)).sum)))
    // the dense tower: brute-force cosine against the FIRST chunk's
    // vector — unit self-similarity, full k, scores in [-1, 1]
    val enc = tbl("enc")
    val probeId = enc.agg(min("vec_id")).head().getLong(0)
    val probe = enc.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("pv"))
    val dense2 = enc.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.Vectors.cosine(
          col("embedding").cast("array<double>"), col("pv")), 4)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
    val dRows = dense2.collect()
    assert(dRows.length == 10)
    assert(dRows.forall(r => math.abs(r.getDouble(1)) <= 1.0001))
    // r18's fusion over the two built towers
    val fused = graft.api.Graft.rrfFuse(
      Seq(lex, dense2), "doc_id", "score", 10, 60).collect()
    assert(fused.nonEmpty && fused.length <= 10)
    val rrfs = fused.map(_.getAs[Double]("rrf"))
    assert(rrfs.sameElements(rrfs.sortBy(-_)), "rrf not descending")
  }

  test("st22 = batch p1 under exactly-once arrivals: the accumulated " +
      "funnel report matches row for row, and the landed survivor " +
      "set is Graft.curate's own answer") {
    val t = Tables(spark, sf)
    val stream = run("st22_stream_curate").collect().map(_.toSeq).toSeq
    val batch = run("p1_curation_funnel").collect().map(_.toSeq).toSeq
    assert(stream == batch, "stream funnel diverged from batch p1")
    // every batch committed one version to EVERY destination
    val roots = graft.streaming.Streams.St22Roots(
      graft.Staging.lookup(s"${t.dir}:st22:0.35:5:97").get)
    val Seq(mainLog, statsLog, md5Log, fpLog) = roots.logs
    assert(mainLog.versions.size >= 2, "stream ran fewer than 2 batches")
    assert(Seq(statsLog, md5Log, fpLog)
      .forall(_.versions.size == mainLog.versions.size))
    val landed = mainLog.read(spark,
        graft.streaming.Streams.st22MainSchema,
        mainLog.latestVersion.get)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val curated = graft.api.Graft.curate(t.documents, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(landed == curated, "landed survivors != batch curate")
  }

  test("st22 redelivery no-ops on all four destinations; a torn " +
      "batch (one side's commit lost) heals without re-landing the " +
      "committed sides") {
    val t = Tables(spark, sf)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st22_drill_").toString
    try {
      val docs = t.documents.select("doc_id", "text")
      val bench = graft.operators.Pipeline.scoredProjection(docs, 5)
        .filter(col("doc_id") % 97 === 0)
        .select(explode(col("sh")).as("s5")).distinct()
      val roots = graft.streaming.Streams.St22Roots(tmp)
      graft.streaming.Streams.st22Step(spark, roots, bench, docs, 0L)
      val Seq(mainLog, statsLog, md5Log, fpLog) = roots.logs
      assert(roots.logs.forall(_.latestVersion.contains(0L)))
      val mainFiles = mainLog.snapshot(0L).map(_.path).toSet
      val statsOnce = statsLog.read(spark,
          graft.streaming.Streams.st22StatsSchema, 0L)
        .collect().map(_.toSeq).toSet
      // redelivery: every tag present ⇒ structural no-op
      graft.streaming.Streams.st22Step(spark, roots, bench, docs, 0L)
      assert(roots.logs.forall(_.versions == Seq(0L)),
        "redelivered batch minted a version")
      // torn batch: the stats side's commit vanishes (crash between
      // side commits) — the retry completes ONLY the missing side;
      // main's files are untouched (its log still references them)
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        s"${roots.stats}/_log/v000000000000.commit"))
      graft.streaming.Streams.st22Step(spark, roots, bench, docs, 0L)
      val statsLog2 = graft.sources.TableLog.open(roots.stats)
      assert(statsLog2.committed("b@0"), "torn side not healed")
      assert(statsLog2.read(spark,
          graft.streaming.Streams.st22StatsSchema, 0L)
        .collect().map(_.toSeq).toSet == statsOnce)
      val mainLog2 = graft.sources.TableLog.open(roots.main)
      assert(mainLog2.versions == Seq(0L) &&
        mainLog2.snapshot(0L).map(_.path).toSet == mainFiles,
        "healing the stats side disturbed main")
      // the one-batch drill's report equals batch p1 (single batch =
      // trivially exactly-once)
      val rep = statsLog2.read(spark,
          graft.streaming.Streams.st22StatsSchema, 0L)
        .orderBy("ord").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val p1 = run("p1_curation_funnel").orderBy("ord").collect()
        .map(r => (r.getAs[Int]("ord").toLong, r.getAs[String]("stage"),
          r.getAs[Long]("n_out"))).toSeq
      assert(rep == p1)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("st22 refuses a non-ascending arrival: a batch whose min " +
      "doc_id does not exceed the registered high-water fails " +
      "loudly instead of silently keeping a non-min group member; " +
      "a torn RETRY of the same batch still passes") {
    val t = Tables(spark, sf)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st22_hw_").toString
    try {
      val docs = t.documents.select("doc_id", "text")
      val bench = graft.operators.Pipeline.scoredProjection(docs, 5)
        .filter(col("doc_id") % 97 === 0)
        .select(explode(col("sh")).as("s5")).distinct()
      val roots = graft.streaming.Streams.St22Roots(tmp)
      val lo = docs.filter(col("doc_id") < 100)
      val hi = docs.filter(col("doc_id") >= 100)
      graft.streaming.Streams.st22Step(spark, roots, bench, lo, 0L)
      // a RETRY of batch 0 (torn or redelivered) re-checks against
      // the PRE-batch mark — it must not trip over its own advance
      graft.streaming.Streams.st22Step(spark, roots, bench, lo, 0L)
      // batch 1 arriving BELOW the high-water = contract violation
      val e = intercept[IllegalArgumentException] {
        graft.streaming.Streams.st22Step(spark, roots, bench, lo, 1L)
      }
      assert(e.getMessage.contains("non-ascending"))
      // ascending continuation is clean
      graft.streaming.Streams.st22Step(spark, roots, bench, hi, 1L)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("p3 serves from the BUILT towers: r_lex = the sparse tower's " +
      "own BM25 ranking, r_vec = the stored-code int16 dot ranking, " +
      "rrf descending; stored codes = the encoder's top 16 bits") {
    val t = Tables(spark, sf)
    val tbl = graft.operators.Pipeline.ragTables(t)
    val fused = run("p3_rag_serve").collect()
    assert(fused.nonEmpty && fused.length <= 10)
    val rrfs = fused.map(_.getAs[Double]("rrf"))
    assert(rrfs.sameElements(rrfs.sortBy(-_)), "rrf not descending")
    // lexical ranks reproduce the tower's own top-20
    val lex = graft.operators.Search.searchBm25From(
      tbl("tf").withColumnRenamed("chunk_id", "doc_id"),
      graft.operators.Search.queryTerms, 20).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    fused.foreach { r =>
      val id = r.getLong(0)
      Option(r.getAs[Any]("r_lex")).foreach(rl =>
        assert(lex(id) == rl.asInstanceOf[Int], s"r_lex drifted for $id"))
    }
    // dense ranks reproduce the stored-code dot ranking over the
    // query's PROBED lists (the pruned serving contract): rank only
    // codes filed under the nProbe nearest coarse lists
    val qU16 = graft.operators.Embed.u16Of(
      graft.operators.Search.queryTerms.mkString(" "))
    val root = graft.operators.Pipeline.ragRoot(t)
    val cb = graft.streaming.Streams.loadCodebook(root).get
    val probeCids = spark.range(1)
      .select(slice(graft.functions.Vectors.centroidRanks(
        typedlit(qU16.map(_.toDouble)), cb), 1, 8).as("pls"))
      .collect()(0).getSeq[Int](0).toSet
    val dense = tbl("enc_ivf").collect().filter(r =>
      probeCids.contains(r.getAs[Int]("cid"))).map { r =>
      val u = r.getAs[scala.collection.Seq[Int]]("u16")
      r.getAs[Long]("vec_id") ->
        u.zip(qU16).map { case (a, b) => a.toLong * b }.sum
    }.sortBy { case (id, s) => (-s, id) }.take(20).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    // and the prune is REAL: the probed lists hold a strict subset
    // of the index (the in-list read fraction a 100 TB probe pays)
    val nAll = tbl("enc_ivf").count()
    val nProbed = tbl("enc_ivf")
      .filter(col("cid").isin(probeCids.toSeq.map(c => c: Any): _*))
      .count()
    assert(nProbed > 0 && nProbed < nAll,
      s"prune not real: $nProbed of $nAll")
    fused.foreach { r =>
      val id = r.getLong(0)
      Option(r.getAs[Any]("r_vec")).foreach(rv =>
        assert(dense(id) == rv.asInstanceOf[Int], s"r_vec drifted for $id"))
    }
    // the stored code IS the encoder's top 16 bits of each dim
    val one = tbl("chunks").orderBy("chunk_id").limit(1).collect()(0)
    val stored = tbl("enc")
      .filter(col("vec_id") === one.getAs[Long]("chunk_id"))
      .collect()(0).getAs[scala.collection.Seq[Int]]("u16")
    val expect = graft.operators.Embed
      .u16Of(one.getAs[String]("chunk")).map(_.toInt)
    assert(stored.toSeq == expect.toSeq, "stored u16 code drifted")
  }

  test("p2 dense tower: IVF assignment is total, list ids bounded " +
      "by the auto-sized codebook, and the build is deterministic") {
    val t = Tables(spark, sf)
    val tbl = graft.operators.Pipeline.ragTables(t)
    val nVec = tbl("enc").count()
    val dense = tbl("dense")
    assert(dense.count() == nVec, "an encoded chunk missed assignment")
    val nLists = graft.operators.Ann.ivfConfigFor(nVec)
    val bad = dense.filter(col("cid") < 0 || col("cid") >= nLists).count()
    assert(bad == 0, s"cid outside [0, $nLists)")
    // retrain from the staged encodes (the stored-code space the
    // tower lives in) → bit-identical assignment
    val vecs = tbl("enc").select(col("vec_id"),
      transform(col("u16"), x => x.cast("double")).as("v"))
    val cb = graft.operators.Ann.trainCodebookSampled(vecs, nLists, nVec,
      dim = graft.operators.Embed.dim)
    val re = vecs.select(col("vec_id"),
      element_at(graft.functions.Vectors.centroidRanks(col("v"), cb), 1)
        .as("cid2"))
    assert(dense.join(re, "vec_id")
      .filter(col("cid") =!= col("cid2")).count() == 0,
      "IVF assignment not deterministic")
  }

  test("dense tiers: sq8-shortlist + exact rerank RESTORES the int16 " +
      "pruned ranking at 4x over-fetch; per-tier recall@10 vs the " +
      "flat exact tower is measured, rerank never below sq8") {
    val t = Tables(spark, sf)
    val d = graft.operators.Pipeline.ragRoot(t)
    val snap = graft.operators.Pipeline.servedAt(spark, d)
    val tbl = snap.tables
    val qU16 = graft.operators.Embed.u16Of(
      graft.operators.Search.queryTerms.mkString(" "))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    // the flat exact tower: int dot over ALL lists (s8's ground truth)
    val flat = ids(tbl("enc_ivf").select(col("vec_id"),
        aggregate(zip_with(col("u16"), typedlit(qU16),
          (a, b) => a.cast("long") * b), lit(0L), (acc, x) => acc + x)
          .as("iscore"))
      .orderBy(col("iscore").desc, col("vec_id")).limit(10))
    val pruned = ids(graft.operators.Pipeline
      .denseTop(snap, qU16, 10, 8))
    val sq8 = ids(graft.operators.Pipeline
      .denseTopSq8(snap, qU16, 10, 8))
    val rerank = ids(graft.operators.Pipeline
      .denseTopRerank(snap, qU16, 10, 8, 4))
    // s11's promise, pinned: the exact rerank of the 4x compressed
    // shortlist IS the int16 pruned ranking, element for element
    assert(rerank == pruned,
      s"rerank $rerank did not restore the int16 ranking $pruned")
    def recall(a: Seq[Long]) =
      a.toSet.intersect(flat.toSet).size / flat.size.toDouble
    assert(recall(rerank) >= recall(sq8),
      s"rerank recall ${recall(rerank)} below sq8's ${recall(sq8)}")
    // pq_rerank (FAISS's IVFPQ+refine): the exact refine stage is
    // MECHANICALLY pinned — its top-10 must equal the exact integer
    // re-scoring of the PQ tier's own 40-candidate ADC shortlist —
    // and never ranks below the raw pq tier (refine only reorders)
    val pq = ids(graft.operators.Pipeline
      .denseTopPq(snap, qU16, 10, 8))
    val pqRerank = ids(graft.operators.Pipeline
      .denseTopRerank(snap, qU16, 10, 8, 4, "pq"))
    val pqShort = ids(graft.operators.Pipeline
      .denseTopPq(snap, qU16, 40, 8))
    val exactOfShort = ids(tbl("enc_ivf")
      .filter(col("vec_id").isin(pqShort.map(v => v: Any): _*))
      .select(col("vec_id"),
        aggregate(zip_with(col("u16"), typedlit(qU16),
          (a, b) => a.cast("long") * b), lit(0L), (acc, x) => acc + x)
          .as("iscore"))
      .orderBy(col("iscore").desc, col("vec_id")).limit(10))
    assert(pqRerank == exactOfShort,
      s"pq_rerank $pqRerank != exact reorder of the ADC shortlist " +
        s"$exactOfShort")
    assert(recall(pqRerank) >= recall(pq),
      s"pq_rerank recall ${recall(pqRerank)} below pq's ${recall(pq)}")
    info(f"recall@10 vs flat: int16=${recall(pruned)}%.2f " +
      f"sq8=${recall(sq8)}%.2f rerank=${recall(rerank)}%.2f " +
      f"pq=${recall(pq)}%.2f pq_rerank=${recall(pqRerank)}%.2f")
  }

  test("r19_staged_eval: staged ranks equal the inline BM25 chain " +
      "over the same chunk corpus (per query: rank AND candidate set)") {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, sf)
    val staged = graft.operators.Pipeline.r19StagedEval(t).collect()
    assert(staged.nonEmpty)
    val tbl = graft.operators.Pipeline.ragTables(t)
    val tf = tbl("tf").withColumnRenamed("chunk_id", "doc_id")
    // the same deterministic eval-set derivation
    val wq = Window.partitionBy("qid").orderBy(col("tf").desc, col("term"))
    val byQ = tbl("tf")
      .filter(col("chunk_id") % 1000000L === 0 &&
        col("chunk_id") < 16000000L)
      .select(col("chunk_id").as("qid"), col("term"), col("tf"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 3)
      .select("qid", "term")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(staged.length == byQ.size,
      "a query's source chunk fell out of its own candidate set")
    staged.foreach { row =>
      val qid = row.getAs[Long]("query_chunk")
      val inline = graft.operators.Search.bm25Scores(tf, byQ(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, s) => (-s, id) }
      val rank = inline.indexWhere(_._1 == qid) + 1
      assert(rank > 0 && rank.toLong == row.getAs[Long]("rank"),
        s"qid $qid: staged rank ${row.getAs[Long]("rank")} != inline $rank")
      assert(inline.length.toLong == row.getAs[Long]("n_cand"),
        s"qid $qid candidate count drifted")
    }
  }

  test("inputBytesOf measures the DOMINANT source table, not the " +
      "plan-wide file sum: an auxiliary joined table must not " +
      "inflate the corpus estimate") {
    import graft.operators.Pipeline
    def bytesUnder(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(p)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusBytes = Pipeline.inputBytesOf(docs)
    assert(corpusBytes == bytesUnder(s"$sf/documents.parquet"),
      "single-source frame must measure its own files exactly")
    // join a second file-backed table in: the estimate must stay the
    // corpus scan's bytes (the larger group), never the sum — a
    // sum-inflated nDb under 4x drift is silently accepted and
    // over-buckets the layout
    val aux = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey").as("doc_id"),
        col("n_name").as("nation"))
    val joined = docs.join(aux, Seq("doc_id"), "left")
    val joinedBytes = Pipeline.inputBytesOf(joined)
    assert(joinedBytes == corpusBytes,
      s"auxiliary table inflated the corpus estimate: $joinedBytes " +
        s"!= $corpusBytes")
    // a UNIONED corpus (several drops assembled into one frame) is
    // ALL corpus — branches must SUM, or a 4-shard union would
    // under-bucket past the 4x drift window the estimate feeds
    val unioned = docs.select("doc_id", "text")
      .union(docs.select("doc_id", "text"))
    assert(Pipeline.inputBytesOf(unioned) == 2 * corpusBytes,
      "union branches must sum")
    // …and a joined-then-unioned mix keeps both rules
    assert(Pipeline.inputBytesOf(
      joined.select("doc_id", "text")
        .union(docs.select("doc_id", "text"))) == 2 * corpusBytes)
    // no file-backed source at all → 0 (callers land flat)
    val s2 = spark
    import s2.implicits._
    assert(Pipeline.inputBytesOf(
      Seq((1L, "x")).toDF("doc_id", "body")) == 0L)
  }
}
