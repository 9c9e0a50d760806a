package graft

import org.apache.spark.sql.functions._

class DedupTextSpec extends SparkSpec {

  test("d1 exact: dup chunk groups exist, keep_doc is min member") {
    val rows = run("d1_dedup_exact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_copies") >= 2)
      assert(r.getAs[Long]("n_docs") >= 1)
    }
  }

  test("d2 jaccard: pairs canonical a<b, jaccard in [0.5, 1]") {
    val rows = run("d2_ngram_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("d3 minhash-LSH: verified pairs are a subset of d2's ≥0.5 pairs, and recall is near-total") {
    val d2 = run("d2_ngram_jaccard").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val d3 = run("d3_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(d3.subsetOf(d2))                 // verification step guarantees ⊆
    assert(d3.size >= (d2.size * 0.9).toInt) // banding at j≥0.5 should catch ~all
  }

  test("d4 simhash: pairs found, hamming ≤ 3, near-dup docs are close") {
    val rows = run("d4_simhash").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("d6 groups: components cover d3 pairs, keep_doc is component min") {
    val pairs = run("d3_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val groups = run("d6_dedup_groups").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keep_doc"), r.getAs[Long]("group_size"))).toMap
    assert(groups.nonEmpty)
    // every paired doc is grouped, pair members share a component
    pairs.foreach { case (a, b) =>
      assert(groups.contains(a) && groups.contains(b))
      assert(groups(a)._1 == groups(b)._1, s"pair ($a,$b) split")
    }
    // keep_doc is a member of its own component and the minimum
    groups.foreach { case (id, (keep, size)) =>
      assert(keep <= id)
      assert(groups(keep)._1 == keep)
      assert(size >= 2)
    }
  }

  test("d5 embedding neardup: cos ≥ threshold, canonical pairs") {
    val rows = run("d5_embedding_neardup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos") >= 0.45)
    }
  }

  test("d5 LSH index: measured candidate fraction ≤ 0.15, recall ≥ 0.8") {
    import graft.operators.Dedup
    val vecs = Tables(spark, sf).embeddings.select("vec_id", "embedding")
    val n = vecs.count()
    val nCand = Dedup.embeddingCandidates(vecs).count()
    val frac = nCand.toDouble / (n * (n - 1) / 2)
    // exhaustive ground truth (test-only cross join at sf0.001 scale)
    val vv = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val truth = vv.as("a").crossJoin(vv.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(round(graft.functions.Vectors.cosine(col("a.v"), col("b.v")), 4)
        >= 0.45)
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = run("d5_embedding_neardup").collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recall = found.size.toDouble / truth.size
    info(f"d5 LSH: n=$n cand=$nCand frac=$frac%.4f recall=$recall%.3f " +
      f"(${found.size}/${truth.size})")
    assert(found.subsetOf(truth)) // verify step guarantees no false positives
    assert(frac <= 0.15, f"candidate fraction $frac%.4f")
    assert(recall >= 0.8, f"recall $recall%.3f")
  }

  test("d5 production regime (cos ≥ 0.95): fraction < 1% at recall ≥ 0.95, no multi-probe") {
    import graft.operators.Dedup
    val session = spark
    import session.implicits._
    // deterministic planted corpus: 200 random 64-dim vectors, the
    // first 40 each get a near-identical twin (cos ≈ 0.995)
    val rnd = new scala.util.Random(42)
    val base = Array.fill(200)(Array.fill(64)(rnd.nextGaussian()))
    val twins = base.take(40).map(_.map(x => x + 0.1 * rnd.nextGaussian()))
    val vecs = (base ++ twins).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("vec_id", "embedding")
    val n = 240L
    val nCand = Dedup.embeddingCandidates(vecs, probeRadius = 0).count()
    val frac = nCand.toDouble / (n * (n - 1) / 2)
    val found = Dedup.embeddingPairsFrom(vecs, 0.9, probeRadius = 0)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    // ground truth: twin i sits at id 200+i
    val truth = (0 until 40).map(i => (i.toLong, (200 + i).toLong)).toSet
    val recall = found.count(truth).toDouble / truth.size
    info(f"production regime: frac=$frac%.4f recall=$recall%.2f")
    assert(frac < 0.01, f"candidate fraction $frac%.4f")
    assert(recall >= 0.95, f"recall $recall%.2f")
  }

  test("cc: pointer-jump label propagation resolves a 12-long chain + a separate pair") {
    import SparkSpec.spark.implicits._
    // chain 1-2-3-...-12 (diameter 11 — plain propagation would need
    // 11 rounds; pointer jumping needs ~log2) plus component {20, 21}
    val pairs = ((1L to 11L).map(i => (i, i + 1)) :+ (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.ccGroups(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keep_doc"),
        r.getAs[Long]("group_size"))).toSet
    val want = (1L to 12L).map(i => (i, 1L, 12L)).toSet ++
      Set((20L, 20L, 2L), (21L, 20L, 2L))
    assert(got == want)
  }

  test("cc: the driver union-find equals the Spark pointer-jump loop, rows " +
      "and schema, on adversarial graphs") {
    import SparkSpec.spark.implicits._
    import graft.operators.Dedup
    def star(hub: Long, leaves: Seq[Long]) = leaves.map(l => (hub, l))
    val graphs = Seq(
      "12-chain + pair" -> ((1L to 11L).map(i => (i, i + 1)) :+ (20L, 21L)),
      "300-chain, shuffled" -> new scala.util.Random(7)
        .shuffle((1L to 299L).map(i => (i, i + 1))),
      "500-leaf star, hub max id" -> star(1000L, 1L to 500L),
      "two stars joined leaf to leaf" ->
        (star(100L, 1L to 20L) ++ star(200L, 101L to 120L) :+ (20L, 101L)),
      "duplicate and reversed pairs" ->
        Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (5L, 6L), (6L, 5L)),
      "self-loop" -> Seq((7L, 7L), (8L, 9L), (9L, 9L)),
      "no edges" -> Seq.empty[(Long, Long)])
    for ((name, edges) <- graphs) {
      val pairs = edges.toDF("doc_a", "doc_b")
      val onDriver = Dedup.ccGroups(pairs)
      assert(Dedup.lastCcRounds.get == 0, s"$name: driver branch ran rounds")
      val onSpark = Dedup.ccGroupsOnSpark(pairs)
      assert(Dedup.lastCcRounds.get >= 1, s"$name: Spark branch ran no round")
      assert(onDriver.schema == onSpark.schema, name)
      // both come back in doc_id order
      val (d, s) = (onDriver.collect().toSeq, onSpark.collect().toSeq)
      assert(d == s, name)
      assert(d.isEmpty == edges.isEmpty, name)
    }
  }

  test("in-budget cc: repeat groupSplit and dedupGroups calls land no " +
      "scratch dir and run no cc round job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.api.Graft
    import graft.operators.Dedup
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    val labels = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    val keys0 = Staging.scratchKeys
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (_ <- 1 to 5) {
        Graft.groupSplit(docs, "doc_id", "text").collect()
        assert(Dedup.lastCcRounds.get == 0)
        assert(Graft.dedupGroups(docs, "doc_id", "text").collect().nonEmpty)
        assert(Dedup.lastCcRounds.get == 0)
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Staging.scratchKeys == keys0)
    assert(labels.contains("cc: edges"), labels)
    assert(!labels.contains("cc: round") && !labels.contains("cc: label sum"),
      labels)
  }

  test("d2 blind-doc diagnostic: boilerplate-only docs are reported, distinct docs are not") {
    import SparkSpec.spark.implicits._
    // 30 docs of identical boilerplate (every shingle df=30 > maxDf=8)
    // plus 2 docs of unique text (all shingles df ≤ 8)
    val docs = ((1L to 30L).map(i => (i, "the quick brown fox jumps over the lazy dog again")) ++
      Seq((101L, "alpha beta gamma delta epsilon zeta eta theta"),
          (102L, "unique words entirely different from any other text here")))
      .toDF("doc_id", "text")
    val blind = graft.api.Graft.jaccardBlindDocs(docs, "doc_id", "text",
        k = 3, maxDf = 8)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(blind == (1L to 30L).toSet)
  }

  test("t1 langid: predictions are valid langs, score is max profile hit count") {
    val rows = run("t1_langid").collect()
    assert(rows.length == 500)
    val langs = Set("de", "en", "es", "fr", "zh")
    rows.foreach { r =>
      assert(langs(r.getAs[String]("pred_lang")))
      assert(r.getAs[Int]("score") >= 0)
    }
  }

  test("t2 quality: ratios in [0,1], q_score bounded") {
    val rows = run("t2_quality_score").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("distinct_ratio") > 0 &&
        r.getAs[Double]("distinct_ratio") <= 1)
      assert(r.getAs[Double]("stop_ratio") >= 0 &&
        r.getAs[Double]("stop_ratio") <= 1)
      val q = r.getAs[Double]("q_score")
      assert(q > 0 && q <= 1.0001)
    }
  }

  test("t3 token counts: ws tokens ≤ bpe tokens (splitting only refines)") {
    val rows = run("t3_token_count").collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("n_ws") >= 1)
      assert(r.getAs[Int]("n_bpe") >= r.getAs[Int]("n_ws"))
    }
  }

  test("t5 pii scrub: every doc has exactly one synthetic email xor url") {
    val rows = run("t5_pii_scrub").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 2 == 0) {
        assert(r.getAs[Int]("n_emails") == 1 && r.getAs[Int]("n_urls") == 0)
      } else {
        assert(r.getAs[Int]("n_emails") == 0 && r.getAs[Int]("n_urls") == 1)
      }
      assert(r.getAs[String]("clean_md5").matches("[0-9a-f]{32}"))
    }
  }

  test("t4 fingerprint: stable 32-hex string; near-dup docs share it") {
    val rows = run("t4_fingerprint").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val fp = r.getAs[String]("fingerprint")
      assert(fp == null || fp.matches("[0-9a-f]{32}"))
    }
    // min-5-gram fingerprint collides for the planted near-identical docs
    val fps = rows.filter(!_.isNullAt(1)).map(_.getAs[String]("fingerprint"))
    assert(fps.length - fps.distinct.length > 0)
  }

  test("t6 pack: per-source spans are contiguous and budget-consistent") {
    val rows = run("t6_sequence_pack").collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, docs) =>
      // orderBy(source, doc_id) already sorted them; re-assert order
      val sorted = docs.sortBy(_.getAs[Long]("doc_id"))
      var expectedStart = 0L
      sorted.foreach { r =>
        val start = r.getAs[Long]("tok_start")
        val n = r.getAs[Long]("n_tok")
        val pf = r.getAs[Long]("pack_first")
        val pl = r.getAs[Long]("pack_last")
        assert(start == expectedStart, s"$src gap at doc ${r.get(1)}")
        assert(pf == start / 128 && pl == (start + n - 1) / 128)
        assert(pf <= pl && pl - pf <= n / 128 + 1)
        expectedStart = start + n
      }
    }
  }

  test("t7 mixture sample: kept iff u < rate, per-source rates honored") {
    val rows = run("t7_mixture_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("u") < r.getAs[Double]("rate"))
      val idx = r.getAs[String]("source").drop(3).toInt
      assert(math.abs(r.getAs[Double]("rate") - (idx % 4 + 1) * 0.2) < 1e-12)
    }
    // kept fraction tracks the rate loosely (25 docs/source at sf0.001;
    // binomial 3σ ≈ 0.3 — this guards inverted/constant rates, not
    // estimator precision)
    val kept = rows.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
    kept.foreach { case (src, n) =>
      val rate = (src.drop(3).toInt % 4 + 1) * 0.2
      assert(math.abs(n / 25.0 - rate) < 0.35, s"$src kept $n of 25 at $rate")
    }
    // determinism: a second run keeps the identical doc set
    val again = run("t7_mixture_sample").collect().map(_.getAs[Long]("doc_id"))
    assert(again.toSeq == rows.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("t8 repetition: fractions in (0,1], distinct ≤ total, dup+distinct consistent") {
    val rows = run("t8_repetition").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n2 = r.getAs[Long]("n2"); val nd = r.getAs[Long]("n2_distinct")
      val top = r.getAs[Double]("top2_frac")
      val dup = r.getAs[Double]("dup2_frac")
      assert(nd >= 1 && nd <= n2)
      assert(top > 0 && top <= 1.0)
      assert(math.abs(dup - math.floor((n2 - nd).toDouble / n2 * 10000 + 0.5) / 10000) < 1e-12)
      // the hottest 2-gram accounts for at least its equal share
      assert(top >= math.floor(1.0 / nd * 10000 + 0.5) / 10000 - 1e-9)
    }
    // synthetic corpus has ~31-word vocabulary → repeated 2-grams show
    // up in most docs (measured: 342/500 nonzero, max ≈ 0.14 at sf0.001)
    assert(rows.count(_.getAs[Double]("dup2_frac") > 0) > 200)
    assert(rows.exists(_.getAs[Double]("dup2_frac") > 0.05))
  }

  test("d8 line dedup: every distinct line kept exactly once, per-doc stats consistent") {
    val rows = run("d8_line_dedup").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_lines"); val k = r.getAs[Long]("n_kept")
      assert(n >= 1 && k >= 0 && k <= n)
      assert(math.abs(r.getAs[Double]("kept_frac") -
        math.floor(k.toDouble / n * 10000 + 0.5) / 10000) < 1e-12)
      assert(r.getAs[String]("kept_md5").matches("[0-9a-f]{32}"))
    }
    // global invariant: Σ n_kept = number of DISTINCT lines in the
    // corpus (each kept exactly once, at its first occurrence)
    val t = Tables(spark, sf)
    val lines = t.documents
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .filter(size(col("tk")) > 0)
      .select(explode(transform(
        sequence(lit(0), floor((size(col("tk")) - 1) / 8).cast("int")),
        i => concat_ws(" ", slice(col("tk"), i * 8 + 1, lit(8))))).as("line"))
    assert(rows.map(_.getAs[Long]("n_kept")).sum == lines.distinct().count())
    // duplicates exist in the synthetic corpus, so the gate is live
    assert(rows.map(_.getAs[Long]("n_kept")).sum <
      rows.map(_.getAs[Long]("n_lines")).sum)
  }

  test("d9 semdedup: pairs within-cluster, canonical, exact rounded cosine") {
    val rows = run("d9_semdedup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos") >= 0.45)
    }
    val t = Tables(spark, sf)
    // cluster scope: each pair's cid is both members' assignment
    val (assigned, _) = graft.operators.Ann.assignedVecs(t)
    val cidMap = assigned.select("vec_id", "cid").collect()
      .map(r => r.getAs[Long](0) -> r.getAs[Int](1)).toMap
    rows.foreach { r =>
      assert(cidMap(r.getAs[Long]("vec_a")) == r.getAs[Int]("cid"))
      assert(cidMap(r.getAs[Long]("vec_b")) == r.getAs[Int]("cid"))
    }
    // spot-check the first pair's cosine against the raw vectors
    val r0 = rows.head
    val vs = t.embeddings
      .filter(col("vec_id").isin(r0.getAs[Long]("vec_a"),
        r0.getAs[Long]("vec_b")))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getAs[Long](0) -> r.getSeq[Double](1)).toMap
    val a = vs(r0.getAs[Long]("vec_a")); val b = vs(r0.getAs[Long]("vec_b"))
    val cos = a.zip(b).map { case (x, y) => x * y }.sum /
      (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    assert(math.abs(BigDecimal(cos).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble -
      r0.getAs[Double]("cos")) < 1e-9)
  }

  test("t9 gopher filters: flags recompute from stats, corpus actually splits") {
    val rows = run("t9_gopher_filters").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n = r.getAs[Int]("n_words"); val mw = r.getAs[Double]("mean_wlen")
      assert(r.getAs[Int]("flag_wc") == (if (n >= 50 && n <= 10000) 1 else 0))
      assert(r.getAs[Int]("flag_mwl") == (if (mw >= 3.0 && mw <= 10.0) 1 else 0))
      assert(r.getAs[Int]("keep") == r.getAs[Int]("flag_wc") *
        r.getAs[Int]("flag_mwl") * r.getAs[Int]("flag_stop"))
      assert(mw > 0 && n > 0)
    }
    // the gate must separate the corpus, not rubber-stamp it
    assert(rows.exists(_.getAs[Int]("keep") == 1))
    assert(rows.exists(_.getAs[Int]("keep") == 0))
  }

  test("t10 bigram counts: conditionals well-formed, context count covers bigram") {
    val rows = run("t10_bigram_counts").collect()
    assert(rows.length == 24)
    val counts = rows.map(_.getAs[Long]("c_bi"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val cbi = r.getAs[Long]("c_bi"); val cw1 = r.getAs[Long]("c_w1")
      assert(cbi >= 1 && cw1 >= cbi)
      val p = r.getAs[Double]("p_ml")
      assert(p > 0 && p <= 1.0)
      assert(math.abs(p -
        math.floor(cbi.toDouble / cw1 * 10000 + 0.5) / 10000) < 1e-12)
    }
    // Σ p(w2|w1) over the FULL table is 1 per context; on the top-24
    // cut just require no single conditional claims the whole context
    // unless the bigram count equals it exactly (consistency guard)
    rows.filter(_.getAs[Double]("p_ml") == 1.0).foreach { r =>
      assert(r.getAs[Long]("c_bi") == r.getAs[Long]("c_w1"))
    }
  }

  test("t11 tokenizer encode: id sequence replays from vocab, UNK counted") {
    val rows = run("t11_tokenizer_encode").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unk") <= r.getAs[Long]("n_tok"))
      assert(r.getAs[String]("ids_md5").matches("[0-9a-f]{32}"))
    }
    // vocab is 16 of a ~31-word vocabulary → UNKs exist but are not all
    val unk = rows.map(_.getAs[Long]("n_unk")).sum
    val tot = rows.map(_.getAs[Long]("n_tok")).sum
    assert(unk > 0 && unk < tot)
    // replay one doc end-to-end: rebuild the vocab ranking and the id
    // string in Scala, compare the md5
    val t = Tables(spark, sf)
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getAs[Long](0) -> r.getAs[String](1)).toMap
    def tok(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val counts = docs.values.flatMap(tok).groupBy(identity)
      .view.mapValues(_.size).toSeq
    val vocab = counts.sortBy { case (term, n) => (-n, term) }
      .take(16).zipWithIndex.map { case ((term, _), i) => term -> (i + 1) }
      .toMap
    val d0 = docs.keys.min
    val ids = tok(docs(d0)).map(vocab.getOrElse(_, 0)).mkString(",")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(ids.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.find(_.getAs[Long]("doc_id") == d0).get
      .getAs[String]("ids_md5") == hex)
  }

  test("t12 span corruption: ~25% block mask, counts consistent, deterministic") {
    val rows = run("t12_span_corruption").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tok"); val m = r.getAs[Long]("n_masked")
      val s = r.getAs[Long]("n_spans")
      assert(m <= n && s <= m)
      // each span masks ≤ `span`=3 tokens and ≥ 1
      assert(m <= s * 3)
      assert(s == 0 || m >= s)
    }
    // the hash rule selects ~25% of blocks corpus-wide (binomial, wide
    // tolerance — this guards inverted/constant selection)
    val frac = rows.map(_.getAs[Long]("n_masked")).sum.toDouble /
      rows.map(_.getAs[Long]("n_tok")).sum
    assert(frac > 0.15 && frac < 0.35, s"masked frac $frac")
    // determinism: identical second run
    val again = run("t12_span_corruption").collect()
      .map(_.getAs[String]("corrupt_md5"))
    assert(again.toSeq == rows.map(_.getAs[String]("corrupt_md5")).toSeq)
  }

  test("d10 group split: ~80/10/10, near-dup groups never straddle splits") {
    val rows = run("d10_group_split").collect()
    assert(rows.length == 500)
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.length).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > 300 && bySplit("train") < 480)
    // GROUP INTEGRITY: every dedup group lands in exactly one split
    rows.groupBy(_.getAs[Long]("grp")).foreach { case (g, members) =>
      assert(members.map(_.getAs[String]("split")).distinct.length == 1,
        s"group $g straddles splits")
    }
    // the reason to exist: a NAIVE per-doc hash split scatters at
    // least one near-dup group across splits (leakage)
    def naive(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString.substring(0, 8)
      val u = java.lang.Long.parseLong(hex, 16) / 4294967296.0
      if (u < 0.8) "train" else if (u < 0.9) "val" else "test"
    }
    val multi = rows.groupBy(_.getAs[Long]("grp")).filter(_._2.length >= 2)
    assert(multi.nonEmpty, "spec corpus has no near-dup groups")
    val leaky = multi.count { case (_, members) =>
      members.map(r => naive(r.getAs[Long]("doc_id"))).distinct.length > 1
    }
    info(s"d10: ${multi.size} multi-doc groups; naive split leaks $leaky")
    assert(leaky > 0, "naive split happened to keep all groups intact")
  }

  test("t13 perplexity: positive nll, ppl = exp(nll), ~p75 keep fraction") {
    val rows = run("t13_perplexity").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nll = r.getAs[Double]("avg_nll"); val ppl = r.getAs[Double]("ppl")
      assert(nll > 0 && ppl > 1.0)
      // ppl is exp(raw) rounded — consistent with avg_nll to grid error
      assert(math.abs(ppl - math.exp(nll)) < ppl * 1e-3 + 1e-3)
    }
    // p75 cut: kept fraction in [0.6, 0.95] (ties can push above 0.75)
    val kept = rows.count(_.getAs[Int]("keep") == 1).toDouble / rows.length
    assert(kept >= 0.6 && kept <= 0.95, s"kept fraction $kept")
  }

  test("t15 shuffle-shard: exact cover, dense pos, balanced, seed-sensitive") {
    val rows = run("t15_shuffle_shard").collect()
    val docs = graft.Tables(spark, sf).documents.count()
    // every document lands exactly once
    assert(rows.length == docs)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet.size == docs)
    // pos is dense 1..count within each shard; shards balanced within
    // binomial noise (500 docs / 8 shards ≈ 62.5 ± a few σ)
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    byShard.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (1 to rs.length))
      assert(rs.length > docs / 8 / 2 && rs.length < docs / 8 * 2)
    }
    // deterministic replay: bit-identical on a second run
    val again = run("t15_shuffle_shard").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // a different seed is a different permutation of the same cover
    val t = graft.Tables(spark, sf)
    val other = graft.operators.TextAnalysis
      .shuffleShardFrom(t.documents, "doc_id", seed = 8).collect()
    assert(other.map(_.getAs[Long]("doc_id")).toSet.size == docs)
    assert(other.map(_.toSeq).toSeq != rows.map(_.toSeq).toSeq)
  }

  test("d14 selfrep scrub: duplicated spans survive only in their " +
      "first owner; untouched docs keep their exact text") {
    val spark2 = SparkSpec.spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "intro words alpha beta gamma delta epsilon tail end"),
      (3L, "totally unrelated words only here")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.selfrepScrubFrom(docs, k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_masked"),
          r.getAs[String]("clean_md5"))).toMap
    // doc 1 owns the shared span (lowest doc_id) — nothing masked
    assert(out(1L) == ((6L, 0L,
      md5Hex("alpha beta gamma delta epsilon zeta"))))
    // doc 2 loses exactly the 5-token duplicated span, keeps the rest
    assert(out(2L) == ((9L, 5L, md5Hex("intro words tail end"))))
    // doc 3 shares nothing — untouched
    assert(out(3L) == ((5L, 0L,
      md5Hex("totally unrelated words only here"))))
  }

  test("d14 selfrep scrub at corpus scale: masking happens, keepers " +
      "retain every duplicated span once") {
    val rows = run("d14_selfrep_scrub").collect()
    assert(rows.length == 500)
    val masked = rows.map(_.getAs[Long]("n_masked")).sum
    assert(masked > 0, "synthetic corpus has cross-doc dups; none masked")
    // never mask more than the doc holds, and some docs stay whole
    rows.foreach(r =>
      assert(r.getAs[Long]("n_masked") <= r.getAs[Long]("n_tok")))
    assert(rows.count(_.getAs[Long]("n_masked") == 0L) > 0)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("d11 overlap scrub: masks exactly the docs d7 flags, ≥k tokens each") {
    val rows = run("d11_overlap_scrub").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 != 0)          // train side only
      assert(r.getAs[Long]("n_masked") <= r.getAs[Long]("n_tok"))
    }
    val scrubbed = rows.filter(_.getAs[Long]("n_masked") > 0)
      .map(_.getAs[Long]("doc_id")).toSet
    // a doc is scrubbed iff d7 detects it, and each hit covers ≥ k=5
    val flagged = run("d7_decontaminate").collect()
      .map(_.getAs[Long]("train_id")).toSet
    assert(scrubbed == flagged, s"scrubbed ${scrubbed.size} vs d7 ${flagged.size}")
    rows.filter(_.getAs[Long]("n_masked") > 0)
      .foreach(r => assert(r.getAs[Long]("n_masked") >= 5))
  }

  test("st12 stream scrub: equals batch d11 under the pinned bench set") {
    val batch = run("d11_overlap_scrub").collect().map(_.toSeq)
    val stream = run("st12_stream_overlap_scrub").collect().map(_.toSeq)
    assert(stream.length == batch.length && stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq)
  }

  test("d12 bloom decontaminate: bit-equal to d7, prefilter selective, " +
      "no false negatives") {
    val d7 = run("d7_decontaminate").collect().map(_.toSeq)
    val d12 = run("d12_bloom_decontaminate").collect().map(_.toSeq)
    assert(d12.nonEmpty && d12.toSeq == d7.toSeq)
    // rebuild the prefilter pieces and measure its selectivity
    import org.apache.spark.sql.functions._
    val t = graft.Tables(spark, sf)
    val sh = t.documents
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .select(col("doc_id"),
        explode(graft.functions.Text.shinglesFast(5)(col("tk"))).as("sh"))
    val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").cache()
    val bf = bench.stat.bloomFilter("sh", math.max(bench.count(), 1L), 0.03)
    val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
    val might = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.BloomMightContain(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("sh")),
        bos.toByteArray))
    val train = sh.filter(col("doc_id") % 97 =!= 0).cache()
    val total = train.count()
    val passed = train.filter(might).count()
    val exactHits = train.join(bench.distinct(), Seq("sh"), "left_semi").count()
    bench.unpersist(); train.unpersist()
    // bloom admits every true hit (no false negatives) …
    assert(passed >= exactHits)
    // … and the clean remainder leaks at ≲ fpp (generous 5× headroom
    // over the requested 3% for small-sample noise)
    assert(passed - exactHits <= math.max(50L, ((total - exactHits) * 0.15).toLong),
      s"bloom passed $passed of $total (exact $exactHits)")
  }

  test("d7 decontaminate: bench slice is %97, train side isn't, overlaps real") {
    val rows = run("d7_decontaminate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bench_id") % 97 == 0)
      assert(r.getAs[Long]("train_id") % 97 != 0)
      assert(r.getAs[Long]("n_shared") >= 1)
    }
    // every reported overlap is a true distinct-5-gram intersection:
    // recompute one pair exactly
    val r0 = rows.head
    val docs = Tables(spark, sf).documents
      .filter(col("doc_id").isin(r0.getAs[Long]("train_id"),
        r0.getAs[Long]("bench_id")))
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .select(col("doc_id"), graft.functions.Text.shinglesFast(5)(col("tk")).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet)
      .toMap
    val inter = docs(r0.getAs[Long]("train_id"))
      .intersect(docs(r0.getAs[Long]("bench_id"))).size
    assert(inter == r0.getAs[Long]("n_shared"))
  }

  test("d13 keep-best: one survivor per group, exact cover, survivor has max quality") {
    val kept = run("d13_dedup_keep_best").collect()
    val groups = run("d6_dedup_groups").collect()
    val nDocs = Tables(spark, sf).documents.count()
    // exact cover: group sizes over survivors sum to the corpus
    assert(kept.map(_.getAs[Long]("group_size")).sum == nDocs)
    // one survivor per group: grp values are unique, and every d6
    // component is represented by exactly one survivor
    val grps = kept.map(_.getAs[Long]("grp"))
    assert(grps.distinct.length == grps.length)
    val d6Roots = groups.map(_.getAs[Long]("keep_doc")).distinct.sorted
    val keptGroupRoots = kept.filter(_.getAs[Long]("group_size") > 1)
      .map(_.getAs[Long]("grp")).sorted
    assert(d6Roots.sameElements(keptGroupRoots))
    // the survivor's q_score is its group's max (recomputed from t2)
    val q = run("t2_quality_score").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("q_score")).toMap
    val byRoot = groups.groupBy(_.getAs[Long]("keep_doc"))
    kept.filter(_.getAs[Long]("group_size") > 1).foreach { r =>
      val members = byRoot(r.getAs[Long]("grp")).map(_.getAs[Long]("doc_id"))
      val best = members.map(d => q.getOrElse(d, 0.0)).max
      assert(r.getAs[Double]("q_score") == best)
      assert(members.contains(r.getAs[Long]("doc_id")))
    }
    // keep-best genuinely differs from keep-min-id somewhere (else the
    // operator is d6 with extra steps on this corpus)
    assert(kept.exists(r => r.getAs[Long]("group_size") > 1 &&
      r.getAs[Long]("doc_id") != r.getAs[Long]("grp")))
  }

  test("t18 DSIR selection: target-vocabulary docs outrank disjoint " +
      "ones; corpus selection excludes the target slice") {
    // constructed drill: the non-target doc sharing the target's
    // vocabulary must outscore the one with disjoint vocabulary
    val spark2 = SparkSpec.spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "en", "spark engine data pipeline spark data"),
      (2L, "en", "spark pipeline engine shuffle data"),
      (10L, "de", "spark data engine pipeline shuffle spark"),
      (11L, "de", "katze hund vogel fisch baum blume")
    ).toDF("doc_id", "lang", "text")
    val dir = graft.Staging.scratch("t18drill")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the drill corpus has no other tables — Tables reads lazily, so
    // only documents is touched
    val out = graft.operators.TextAnalysis
      .t18DsirSelect(graft.Tables(spark2, dir)).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 11L))
    assert(out(0).getAs[Double]("score") > out(1).getAs[Double]("score"))
    // corpus scale: 100 selected, none from the target slice, scores
    // ranked descending with the doc_id tie-break
    val sel = run("t18_dsir_select").collect()
    assert(sel.length == 100)
    val langs = graft.Tables(spark2, sf).documents
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sel.forall(r => langs(r.getLong(0)) != "en"))
    val scores = sel.map(r =>
      (r.getAs[Double]("score"), r.getLong(0)))
    assert(scores.sliding(2).forall { case Array((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2) })
  }

  test("t16 ccnet buckets: thirds by ppl order, boundaries consistent") {
    val rows = run("t16_ccnet_buckets").collect()
    assert(rows.nonEmpty)
    val byBucket = rows.groupBy(_.getAs[String]("bucket"))
      .view.mapValues(_.map(_.getAs[Double]("ppl"))).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(byBucket.size == 3)
    // buckets are ordered intervals: max(head) ≤ min(middle) etc.
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // tertile split: each bucket holds ~a third (ties can skew a bit)
    val n = rows.length.toDouble
    byBucket.values.foreach(b =>
      assert(b.length / n > 0.2 && b.length / n < 0.47,
        s"bucket fraction ${b.length / n}"))
  }

  test("t17 mixture weights: weights sum to 1, budget and epoch caps hold") {
    val rows = run("t17_mixture_weights").collect()
    assert(rows.length >= 2)
    val wSum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weight sum $wSum")
    val totTok = rows.map(_.getAs[Long]("n_tok")).sum
    val target = math.floor(totTok * 0.5).toLong
    // allocation never exceeds the budget or the per-source epoch cap
    assert(rows.map(_.getAs[Long]("alloc_tok")).sum <= target)
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_tok") <=
        (r.getAs[Long]("n_tok") * 4.0).toLong)
      val ep = r.getAs[Double]("epochs")
      assert(ep >= 0.0 && ep <= 4.0)
      // sqrt-temperature up-samples small sources: weight ≥ raw share
      // for the smallest source, ≤ for the largest
    }
    val byTok = rows.sortBy(_.getAs[Long]("n_tok"))
    val small = byTok.head; val large = byTok.last
    assert(small.getAs[Double]("weight") >=
      small.getAs[Long]("n_tok").toDouble / totTok)
    assert(large.getAs[Double]("weight") <=
      large.getAs[Long]("n_tok").toDouble / totTok)
  }
}
