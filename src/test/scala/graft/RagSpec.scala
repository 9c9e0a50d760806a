package graft

import org.apache.spark.sql.functions._

class RagSpec extends SparkSpec {

  test("r1 classify: every doc classified, actions partition the set") {
    val rows = run("r1_classify_files").collect()
    assert(rows.length == 500)
    val byAction = rows.groupBy(_.getAs[String]("action")).view.mapValues(_.length).toMap
    assert(byAction.keySet.subsetOf(
      Set("skip_dir", "skip_hidden", "skip_ext", "doc", "code")))
    assert(byAction.getOrElse("doc", 0) > 0 && byAction.getOrElse("code", 0) > 0)
    assert(byAction.getOrElse("skip_dir", 0) > 0 && byAction.getOrElse("skip_hidden", 0) > 0)
    // norm_path set iff kept, and never contains the zip top-level dir
    rows.foreach { r =>
      val kept = Set("doc", "code")(r.getAs[String]("action"))
      assert(r.isNullAt(r.fieldIndex("norm_path")) != kept)
      if (kept) assert(!r.getAs[String]("norm_path").startsWith("repo-main/"))
    }
  }

  test("r2 frontmatter: full metadata dict extracted, others pass through") {
    val rows = run("r2_frontmatter").collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 3 == 0) {
        assert(r.getAs[Int]("has_fm") == 1)
        assert(r.getAs[Int]("n_keys") == 3)
        assert(r.getAs[String]("meta_kv") ==
          s"author=a${id % 7}; tags=t${id % 5}; title=doc $id")
      } else {
        assert(r.getAs[Int]("has_fm") == 0)
        assert(r.getAs[Int]("n_keys") == 0)
        assert(r.getAs[String]("meta_kv") == "")
      }
    }
  }

  test("api frontmatter returns the full metadata as a real map") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "---\ntitle: hello\ntags: x\ncustom_key: v1\n---\nbody text"),
      (2L, "no frontmatter here")).toDF("id", "body")
    val rows = graft.api.Graft.frontmatter(docs, "id", "body")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val m1 = rows(1L).getAs[Map[String, String]]("meta")
    assert(m1 == Map("title" -> "hello", "tags" -> "x", "custom_key" -> "v1"))
    assert(rows(1L).getAs[String]("body") == "body text")
    assert(rows(2L).getAs[Map[String, String]]("meta").isEmpty)
    assert(rows(2L).getAs[String]("body") == "no frontmatter here")
  }

  test("r3 strip fence: stripped length equals original text length") {
    // For fence cases the synthetic fence adds exactly the stripped-off
    // lines; docs never start/end with whitespace, so out == text.
    val rows = run("r3_strip_fence").collect()
    val lens = Tables(spark, sf).documents
      .select(col("doc_id"), length(col("text")).as("len"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    rows.foreach { r =>
      assert(r.getAs[Int]("out_len") == lens(r.getAs[Long]("doc_id")))
    }
  }

  test("r4 chunking: reference loop semantics (offsets, break rule)") {
    val rows = run("r4_chunk_sliding").collect()
    val lens = Tables(spark, sf).documents
      .select(col("doc_id"), length(col("text")).as("len"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    // python-twin of the reference sliding_window offset generation
    def expectOffsets(n: Int, size: Int = 200, step: Int = 100): Seq[Int] = {
      val b = Seq.newBuilder[Int]
      var i = 0
      var break = false
      while (i < n && !break) { b += i; if (i + size > n) break = true; i += step }
      b.result()
    }
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val got = rs.map(_.getAs[Int]("start")).sorted.toSeq
      assert(got == expectOffsets(lens(id)), s"doc $id")
    }
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 500)
  }

  test("r12 notebook cells: markdown+code kept, raw dropped, code fenced") {
    val rows = run("r12_notebook_cells").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_cells") == 4)   // raw cell counted in total
      assert(r.getAs[Int]("n_code") == 2)    // but excluded from markdown
      assert(r.getAs[String]("md_md5").matches("[0-9a-f]{32}"))
      // "# doc <id>\nlen=<n>" + 2 fenced code blocks; md5 body is 32
      // hex chars inside print('…') — length is structural
      assert(r.getAs[Int]("md_len") > 60)
    }
  }

  test("r5/r6: tf and df consistent; idf decreasing in df") {
    val tf = run("r5_tokenize_tf").collect()
    val df = run("r6_doc_freq").collect()
    val dfFromTf = tf.groupBy(_.getAs[String]("term")).view.mapValues(_.length).toMap
    df.foreach { r =>
      assert(r.getAs[Long]("df") == dfFromTf(r.getAs[String]("term")))
      assert(r.getAs[Double]("idf") >= 1.0) // smooth idf lower bound
    }
  }

  test("r7/r8: top-5, scores positive and descending") {
    for (name <- Seq("r7_tfidf_search", "r8_bm25_search")) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.length == 5, name)
      val scores = rows.map(_.getAs[Double]("score"))
      assert(scores.forall(_ > 0), name)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, name)
    }
  }

  test("r19 search eval: one row per query, self-retrieval ranks well, " +
      "rr consistent, rank-1 queries recompute") {
    val rows = run("r19_search_eval").collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val rank = r.getAs[Long]("rank")
      assert(rank >= 1 && rank <= r.getAs[Long]("n_cand"))
      assert(r.getAs[Double]("rr") ==
        math.floor(1.0 / rank * 10000 + 0.5) / 10000.0)
      assert(r.getAs[Int]("hit5") == (if (rank <= 5) 1 else 0))
    }
    // self-retrieval on a doc's own top terms should be easy: the
    // mean reciprocal rank over the query set must be high
    val mrr = rows.map(_.getAs[Double]("rr")).sum / rows.length
    assert(mrr >= 0.5, s"MRR $mrr")
  }

  test("r20 RM3: interpolation reconstructs, expansion terms exclude " +
      "the query, the second pass genuinely retrieves") {
    val rows = run("r20_rm3_expand").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (o, e, f) = (r.getAs[Double]("score_orig"),
        r.getAs[Double]("score_exp"), r.getAs[Double]("score_rm3"))
      assert(f == BigDecimal(0.6 * o + 0.4 * e)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the expansion pass found real co-occurring vocabulary: at
    // least one top hit carries expansion-term mass
    assert(rows.map(_.getAs[Double]("score_exp")).max > 0.0)
    // and the feedback loop surfaces vocabulary-mismatch docs
    // somewhere in the corpus: a doc scored by the expansion query
    // that the original query missed entirely
    val t = Tables(spark, sf)
    val tf = graft.operators.Search.tfStaged(t)
    val s1docs = graft.operators.Search
      .bm25Scores(tf, graft.operators.Search.queryTerms)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = graft.operators.Search.r20Rm3Expand(t, k = 100000)
      .collect()
    assert(full.exists(r => r.getAs[Double]("score_orig") == 0.0 &&
      r.getAs[Double]("score_exp") > 0.0 &&
      !s1docs(r.getAs[Long]("doc_id"))),
      "no vocabulary-mismatch doc found by the expansion")
  }

  test("r18 hybrid rrf: fuses lexical+dense ranks, scores reconstruct") {
    val rows = run("r18_hybrid_rrf").collect()
    assert(rows.length == 10)
    var sawLex = false; var sawVec = false
    rows.foreach { r =>
      val rl = if (r.isNullAt(r.fieldIndex("r_lex"))) None
               else Some(r.getAs[Int]("r_lex"))
      val rv = if (r.isNullAt(r.fieldIndex("r_vec"))) None
               else Some(r.getAs[Int]("r_vec"))
      assert(rl.nonEmpty || rv.nonEmpty)
      (rl ++ rv).foreach(x => assert(x >= 1 && x <= 20))
      sawLex ||= rl.nonEmpty; sawVec ||= rv.nonEmpty
      // the fused score is exactly the RRF of the two ranks
      val expect = rl.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rv.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-6)
    }
    // both towers contribute to the fused top-10
    assert(sawLex && sawVec)
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    // lexical ranks agree with r8's own top-5 ordering
    val bm25Top = run("r8_bm25_search").collect().map(_.getAs[Long]("doc_id"))
    val lexRankOf = rows.flatMap { r =>
      if (r.isNullAt(r.fieldIndex("r_lex"))) None
      else Some(r.getAs[Long]("doc_id") -> r.getAs[Int]("r_lex"))
    }.toMap
    bm25Top.zipWithIndex.foreach { case (d, i) =>
      lexRankOf.get(d).foreach(rk => assert(rk == i + 1))
    }
  }

  test("serving queries use the corpus-keyed staged TF index; staged " +
      "rows equal a direct compute") {
    run("r7_tfidf_search").collect()
    val key = s"$sf:tfidx"
    assert(graft.Staging.lookup(key).isDefined)
    val t = graft.Tables(spark, sf)
    val staged = graft.operators.Search.tfStaged(t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val direct = graft.operators.Search.termFreq(t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(staged.sorted.sameElements(direct.sorted))
  }

  test("r13: raw-string query reproduces r7's term-list ranking exactly") {
    val viaString = run("r13_search_query_string").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val viaTerms = run("r7_tfidf_search").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(viaString.sameElements(viaTerms))
  }

  test("r9: only en docs, boosted source ranks first") {
    val rows = run("r9_filter_boost_search").collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val enDocs = Tables(spark, sf).documents.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => enDocs(r.getAs[Long]("doc_id"))))
    // a src3 doc (boost +3.0) should outrank pure-text matches
    assert(rows.head.getAs[String]("source") == "src3")
  }

  test("r11: exactly 2 sampled docs per source, stable across runs") {
    val a = run("r11_eval_sample").collect()
    val bySource = a.groupBy(_.getAs[String]("source"))
    assert(bySource.size == 20)
    bySource.values.foreach(rs => assert(rs.length == 2))
    val b = run("r11_eval_sample").collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("r10: all seven reference checks, rates in [0,1], n == event count") {
    val rows = run("r10_eval_pass_rates").collect()
    assert(rows.length == 7)
    assert(rows.map(_.getAs[String]("check_name")).toSet ==
      Set("instructions_follow", "instructions_avoid", "answer_relevant",
        "answer_clear", "answer_citations", "completeness", "tool_call_search"))
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == nEvents)
      val rate = r.getAs[Double]("pass_rate")
      assert(rate >= 0 && rate <= 1)
      assert(math.abs(rate - r.getAs[Long]("n_pass").toDouble / nEvents) < 1e-3)
    }
  }

  test("r16 llm rewrite: batch-size independent, fence strip composes to body") {
    val t = Tables(spark, sf)
    val rows = run("r16_llm_rewrite").collect()
    assert(rows.length == 500)
    // output must not depend on how arrivals were batched
    val small = graft.operators.Ingest.r16LlmRewrite(t, batchSize = 7)
      .collect()
    assert(rows.map(_.toSeq).toSeq == small.map(_.toSeq).toSeq)
    // chain identity on one doc: fenced fake completion, stripped,
    // equals the raw body → md5 matches
    val d0 = t.documents.filter(col("doc_id") === 0)
      .select("lang", "text").collect().head
    val tk = d0.getString(1).toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)
    val body = s"# ${d0.getString(0)}\n${tk.take(12).mkString(" ")}\n(rewritten)"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[String]("out_md5") == hex)
    assert(r0.getAs[Int]("out_len") == body.length)
  }

  test("r15 vocab build: rank order, coverage monotone, cutoff real") {
    val rows = run("r15_vocab_build").collect()
    assert(rows.length == 16)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 16))
    val occ = rows.map(_.getAs[Long]("n_occ"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    val cov = rows.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a < b })
    assert(cov.last <= 1.0 && cov.head > 0)
    // the synthetic vocabulary is wider than 16 → the cutoff bites
    assert(cov.last < 1.0)
    rows.foreach { r =>
      assert(r.getAs[Long]("df") >= 1 && r.getAs[Long]("df") <= 500)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("df"))
    }
  }

  test("t14 bpe encode: 0 merges = char count, trained merges shrink, rows = docs") {
    val t = Tables(spark, sf)
    val chars = t.documents
      .select(col("doc_id"), graft.functions.Text.tokenize(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        aggregate(transform(col("tk"), w => length(w)),
          lit(0), (a, x) => a + x).as("nc"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // zero merges: subword sequence IS the char sequence of each word
    val enc0 = graft.operators.Search.t14BpeEncode(t, 0).collect()
    assert(enc0.length == chars.size)
    enc0.foreach(r =>
      assert(r.getAs[Long]("n_sub") == chars(r.getAs[Long]("doc_id"))))
    // trained merges only ever fuse adjacent symbols: per-doc counts
    // never grow, and at least one merge fires somewhere in the corpus
    val enc8 = run("t14_bpe_encode").collect()
    assert(enc8.length == chars.size)
    enc8.foreach(r =>
      assert(r.getAs[Long]("n_sub") <= chars(r.getAs[Long]("doc_id"))))
    assert(enc8.map(_.getAs[Long]("n_sub")).sum <
      enc0.map(_.getAs[Long]("n_sub")).sum)
  }

  test("r17 bpe train: 8 merges, counts non-increasing, compound merge occurs") {
    val rows = run("r17_bpe_train").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Int]("step")).toSeq == (1 to 8))
    rows.foreach { r =>
      val l = r.getAs[String]("lhs"); val rr = r.getAs[String]("rhs")
      assert(l.nonEmpty && rr.nonEmpty && (l + rr).matches("[a-z0-9]+"))
      assert(r.getAs[String]("merged") == l + rr)
      assert(r.getAs[Long]("pair_n") > 0)
    }
    // merging only removes/shrinks pairs ⇒ max pair count is monotone
    val n = rows.map(_.getAs[Long]("pair_n"))
    assert(n.zip(n.tail).forall { case (a, b) => a >= b })
    // a later step merges a token an earlier step created (real BPE
    // dynamics, not just char-bigram ranking)
    assert(rows.exists(r => (r.getAs[String]("lhs") +
      r.getAs[String]("rhs")).length > 2))
  }

  test("r14 conversation stats: parse survives the log round trip, kinds partition") {
    val t = Tables(spark, sf)
    val perUser = t.events.groupBy("user_id").count().collect()
      .map(r => r.getAs[Long](0) -> r.getAs[Long](1)).toMap
    val rows = run("r14_conversation_stats").collect()
    assert(rows.length == perUser.size)
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val n = r.getAs[Long]("n_messages")
      // every event became exactly one parsed message (a from_json
      // failure would null the array and size() would be -1/0)
      assert(n == perUser(u), s"user $u")
      val partSum = r.getAs[Long]("n_user_prompts") + r.getAs[Long]("n_texts") +
        r.getAs[Long]("n_tool_calls") + r.getAs[Long]("n_tool_returns") +
        r.getAs[Long]("n_retries")
      assert(partSum == n, s"user $u part kinds don't partition")
    }
  }

  test("r21 zip ingest: a REAL multi-archive walk — every entry of " +
      "every staged zip surfaces exactly once, skipped entries never " +
      "decode, dir flag agrees with the classification, kept bodies " +
      "round-trip the document text") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    // the staged fleet is really multiple archives (the unit of read
    // parallelism at scale), not one driver-built blob
    val root = graft.operators.Ingest.zipRoot(t)
    val zips = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filter(_.endsWith(".zip"))
    assert(zips.length > 1, s"expected a zip fleet, got ${zips.length}")
    val ent = graft.operators.Ingest.zipEntries(t)
      .withColumn("action",
        graft.operators.Ingest.actionOf(col("filepath")))
      .collect()
    // exactly one entry per document, names unique
    assert(ent.length == t.documents.count())
    assert(ent.map(_.getAs[String]("filepath")).distinct.length == ent.length)
    ent.foreach { r =>
      val action = r.getAs[String]("action")
      val body = r.getAs[String]("body")
      if (action == "doc" || action == "code")
        assert(body != null, s"kept entry lost its bytes: $r")
      else assert(body == null, s"skipped entry was decoded: $r")
      assert(r.getAs[Boolean]("is_dir") == (action == "skip_dir"))
    }
    // kept bodies are the document text, byte-for-byte (UTF-8 round
    // trip through the archive)
    val spark2 = spark
    import spark2.implicits._
    // total extraction (nullif guards the ANSI cast: Catalyst may
    // evaluate the derived join-key constraint before the body
    // filter, and dir entries don't match the pattern)
    val got = graft.operators.Ingest.zipEntries(t)
      .filter(col("body").isNotNull)
      .select(nullif(regexp_extract(col("filepath"), "file_(\\d+)\\.", 1),
        lit("")).cast("long").as("doc_id"), col("body"))
    val diff = got.join(t.documents.select("doc_id", "text"), "doc_id")
      .filter(col("body") =!= col("text")).count()
    assert(diff == 0, "an archive body diverged from its source text")
  }

  test("st24 = batch r21 under exactly-once archive arrivals: the " +
      "accumulated walk report matches row for row, every batch " +
      "committed tagged, and a redelivered batch is a no-op") {
    val t = Tables(spark, sf)
    val stream = run("st24_stream_zip_ingest").collect().map(_.toSeq).toSeq
    val batch = run("r21_zip_ingest").collect().map(_.toSeq).toSeq
    assert(stream == batch, "stream walk report diverged from r21")
    // the fleet really streamed in multiple micro-batches, each one
    // tagged commit
    val root = s"${graft.Staging.lookup(s"${t.dir}:st24").get}/table"
    val log = graft.sources.TableLog.open(root)
    assert(log.versions.size >= 2, "fleet arrived in fewer than 2 batches")
    (0 until log.versions.size).foreach(b =>
      assert(log.committed(s"b@$b"), s"batch $b untagged"))
    // redelivery: the committed tag makes the step structurally no-op
    val nv = log.versions.size
    val bin = spark.read.format("binaryFile")
      .load(s"${graft.operators.Ingest.zipRoot(t)}/*.zip").limit(1)
    graft.streaming.Streams.st24Step(spark, root, bin, 0L)
    assert(graft.sources.TableLog.open(root).versions.size == nv,
      "redelivered archive batch minted a version")
  }

  test("st24 checkpoint cadence ENGAGES the txn watermark: past 8 " +
      "batches the log checkpoints and the accumulated b@ tags fold " +
      "to one watermark row, with every old batch still answering") {
    val t = Tables(spark, sf)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st24_ck_").toString
    try {
      val bin = spark.read.format("binaryFile")
        .load(s"${graft.operators.Ingest.zipRoot(t)}/*.zip").limit(1)
      (0 until 9).foreach(b =>
        graft.streaming.Streams.st24Step(spark, tmp, bin, b.toLong))
      val ck = java.nio.file.Files.list(
          java.nio.file.Paths.get(tmp, "_log")).toArray
        .map(_.toString).filter(_.endsWith(".checkpoint"))
      assert(ck.length == 1, s"cadence did not checkpoint: $ck")
      val lines = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ck.head))).split("\n")
      assert(lines.count(_.startsWith("txn\t")) == 1,
        "b@ tags did not fold to one watermark row")
      assert(lines.count(_.startsWith("tag\t")) == 0)
      val log = graft.sources.TableLog.open(tmp)
      (0 until 9).foreach(b =>
        assert(log.committed(s"b@$b"), s"batch $b lost"))
      assert(!log.committed("b@9"))
    } finally graft.Fs.deleteTree(tmp)
  }
}
