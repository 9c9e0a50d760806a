package graft

import org.apache.spark.sql.functions._
import graft.streaming.StateTable
import graft.streaming.Streams.{st13Family, st14Family, st15Family}

class AnnStreamSpec extends SparkSpec {

  test("s1 brute force: 10 neighbors, descending cosine, probe excluded") {
    val rows = run("s1_ann_bruteforce").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L))
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("s2 sketch ANN: recall@10 ≥ 0.7 vs s1, prefilter actually prunes") {
    val exact = run("s1_ann_bruteforce").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val approx = run("s2_ann_lsh").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(approx.nonEmpty && approx.size <= 10)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall")
    // the Hamming cut keeps a small fraction of the corpus as
    // exact-cosine candidates (measured ~10% at tau=225)
    val t = Tables(spark, sf)
    val sigs = graft.operators.Dedup.hyperplaneSig(
      t.embeddings.select("vec_id", "embedding"), 512)
    val probe = sigs.filter(col("vec_id") === 0L)
      .select(col("sig").as("psig"))
    val kept = sigs.crossJoin(broadcast(probe))
      .filter(graft.functions.Vectors.hamming(col("sig"), col("psig")) <= 225)
      .count()
    val n = t.embeddings.count()
    info(s"s2 sketch scan keeps $kept of $n")
    assert(kept.toDouble / n <= 0.3, s"sketch cut keeps $kept of $n")
  }

  test("s2 tau derivation: default cut scales with sketch width, 512 keeps the calibrated 225") {
    import graft.operators.Ann.defaultTau
    assert(defaultTau(512) == 225)
    // scaling law: cut stays bits/2 − Θ(√bits), so halving the width
    // more than halves the cut (the σ margin shrinks only as √bits)
    assert(defaultTau(256) == 106)
    assert(defaultTau(128) > 0 && defaultTau(128) < defaultTau(256))
  }

  test("s17 BQ search: 1-bit shortlist + exact rerank — recall vs s1, " +
      "rerank cosines are s1's exact values, probe excluded") {
    val s1Rows = run("s1_ann_bruteforce").collect()
    val exact = s1Rows.map(_.getAs[Long]("vec_id")).toSet
    val rows = run("s17_bq_search").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L))
    // the rerank output is exact cosine, descending
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    val recall =
      exact.intersect(rows.map(_.getAs[Long]("vec_id")).toSet).size / 10.0
    info(s"s17 BQ recall@10 = $recall (shortlist 50)")
    assert(recall >= 0.6, s"recall@10 = $recall")
    // rerank scores are EXACT: any id shared with s1 carries the
    // identical rounded cosine (the shortlist changes WHICH rows
    // surface, never their scores)
    val s1cos = s1Rows
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    rows.foreach { r =>
      s1cos.get(r.getAs[Long]("vec_id")).foreach(c =>
        assert(c == r.getAs[Double]("cos")))
    }
    // the sketch is real: shortlist Hamming is far below the ~32-bit
    // random-pair expectation for the surfaced neighbors
    assert(rows.map(_.getAs[Int]("hamming")).min < 32)
  }

  test("s18 MRL search: prefix-32 shortlist + exact rerank — recall " +
      "vs s1, rerank cosines are s1's exact values, prefix cosine is " +
      "a real coarse rank") {
    val s1Rows = run("s1_ann_bruteforce").collect()
    val exact = s1Rows.map(_.getAs[Long]("vec_id")).toSet
    val rows = run("s18_mrl_search").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L))
    val cs = rows.map(_.getAs[Double]("cos"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    val recall =
      exact.intersect(rows.map(_.getAs[Long]("vec_id")).toSet).size / 10.0
    info(s"s18 MRL recall@10 = $recall (prefix 32, shortlist 100)")
    assert(recall >= 0.7, s"recall@10 = $recall")
    // the rerank is EXACT: shared ids carry s1's identical cosines
    val s1cos = s1Rows
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    rows.foreach { r =>
      s1cos.get(r.getAs[Long]("vec_id")).foreach(c =>
        assert(c == r.getAs[Double]("cos")))
    }
    // the prefix is a real coarse signal: surfaced neighbors' prefix
    // cosine is positive and tracks the full cosine's sign
    assert(rows.map(_.getAs[Double]("pcos")).max > 0.0)
  }

  test("s19 filtered ANN: every hit passes the filter, the " +
      "selectivity-scaled probe recovers the filtered brute force " +
      "exactly, a naive fixed nProbe demonstrably loses recall") {
    val t = Tables(spark, sf)
    val probe = t.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"), col("label"))
      .collect()(0)
    val pv = probe.getSeq[Double](0)
    val pLabel = probe.getInt(1)
    // the ground truth: brute force over the admissible set only
    val exact = graft.api.Graft.annTopKWhere(
        t.embeddings.filter(col("vec_id") =!= 0L), "vec_id",
        "embedding", col("label") === pLabel, pv)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Double]("cos"))
    val rows = run("s19_filtered_ann").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach(r => assert(r.getAs[Int]("label") == pLabel))
    // on this corpus the ~10%-selective label collapses the planner
    // to all lists, so the answer IS the filtered brute force —
    // ids AND cosines verbatim
    assert(rows.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Double]("cos")).toSeq == exact.toSeq)
    // the naive fixed cut the planner exists to avoid: nProbe 4
    // measurably under-recalls the filtered ground truth
    val naive = graft.operators.Ann
      .s19FilteredAnn(t, nProbeOverride = Some(4))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val exactIds = exact.map(_._1).toSet
    val recallNaive = exactIds.count(naive) / exactIds.size.toDouble
    info(s"s19 naive nProbe=4 recall = $recallNaive (planner = 1.0)")
    assert(recallNaive < 1.0,
      "naive fixed nProbe unexpectedly matched brute force — " +
        "the selectivity planner would be unjustified on this corpus")
  }

  test("s20 funnel: IVF cut honored, hamming matches s17's corpus " +
      "model, rerank cosines are s1's exact values, recall holds " +
      "through the composed tiers") {
    val t = Tables(spark, sf)
    val rows = run("s20_funnel_search").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // every hit sits in the probe's top-4 lists (the IVF tier bit)
    val (assigned, cb) = graft.operators.Ann.assignedVecs(t)
    val pls = t.embeddings.filter(col("vec_id") === 0L)
      .select(slice(graft.functions.Vectors.centroidRanks(
        col("embedding").cast("array<double>"), cb), 1, 4))
      .collect()(0).getSeq[Int](0).toSet
    val cids = assigned.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(pls(cids(r.getAs[Long]("vec_id")))))
    // the BQ tier is s17's exact corpus model: shared ids carry
    // identical hamming; and the rerank is exact: shared ids carry
    // s1's identical cosines
    val s17h = run("s17_bq_search").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("hamming")).toMap
    val s1cos = run("s1_ann_bruteforce").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    rows.foreach { r =>
      s17h.get(r.getAs[Long]("vec_id"))
        .foreach(h => assert(h == r.getAs[Int]("hamming")))
      s1cos.get(r.getAs[Long]("vec_id"))
        .foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    // composed recall: both tiers cut, so it sits at or below s17's,
    // but must stay a real retrieval
    val exact = s1cos.keySet
    val recall = exact.count(rows.map(_.getAs[Long]("vec_id")).toSet)
      ./(10.0)
    info(s"s20 funnel recall@10 = $recall (nProbe 4, shortlist 50)")
    assert(recall >= 0.5, s"recall@10 = $recall")
  }

  test("s3 IVF ANN: ≤10 results, k-means codebook recall ≥ 0.6 vs s1") {
    val exact = run("s1_ann_bruteforce").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = run("s3_ann_ivf").collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ivf.nonEmpty && ivf.size <= 10)
    // nprobe=2 of 16 trained lists; measured 0.8 (sf0.001) / 1.0
    // (sf0.1) — deterministic per corpus (decimal-exact k-means)
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@10 = $recall")
  }

  test("s8 ann recall: one row per probe, recall consistent with n_hit, " +
      "probe 0 agrees with the s1-vs-s3 cross-check") {
    val rows = run("s8_ann_recall").collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val hit = r.getAs[Long]("n_hit")
      assert(hit >= 0 && hit <= 10)
      assert(r.getAs[Double]("recall") == hit / 10.0)
    }
    // probe 0's recall must equal the independent s1 ∩ s3 measurement
    // (same corpus, same codebook, same k)
    val exact = run("s1_ann_bruteforce").collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = run("s3_ann_ivf").collect().map(_.getAs[Long]("vec_id")).toSet
    val p0 = rows.find(_.getAs[Long]("probe_id") == 0L).get
    assert(p0.getAs[Long]("n_hit") == exact.intersect(ivf).size.toLong)
    // the operating point is usable: mean recall over the probe set
    val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
    assert(mean >= 0.6, s"mean recall $mean")
  }

  test("s9 ivf-pq: estimates ascend, agree with s6's ADC on shared ids, " +
      "results come from the probe's lists only") {
    val s9 = run("s9_ivfpq_search").collect()
    assert(s9.nonEmpty && s9.length <= 10)
    val ests = s9.map(_.getAs[Double]("d_est"))
    assert(ests.sameElements(ests.sorted))
    // same model, same ADC arithmetic: wherever s6 (full-corpus scan)
    // and s9 (pruned lists) both rank a vector, the estimate is equal
    val s6 = run("s6_pq_search").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("d_est")).toMap
    s9.foreach { r =>
      s6.get(r.getAs[Long]("vec_id")).foreach { d =>
        assert(d == r.getAs[Double]("d_est"))
      }
    }
    // pruning witness: every result's coarse assignment is one of the
    // probe's nProbe=2 nearest lists
    val t = Tables(spark, sf)
    val (assigned, cb) = graft.operators.Ann.assignedVecs(t, 16)
    val pls = assigned.filter(col("vec_id") === 0L)
      .select(explode(slice(
        graft.functions.Vectors.centroidRanks(col("v"), cb), 1, 2))
        .as("cid")).collect().map(_.getInt(0)).toSet
    val cidOf = assigned.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    s9.foreach(r => assert(pls.contains(cidOf(r.getAs[Long]("vec_id")))))
  }

  test("s5 pq encode: codes in range, qerr ≥ 0, Lloyd's reduces mean error") {
    val t = Tables(spark, sf)
    val n = t.embeddings.count()
    val rows = run("s5_pq_encode").collect()
    assert(rows.length == n)
    rows.foreach { r =>
      (0 until 4).foreach { mi =>
        val c = r.getAs[Int](s"code$mi"); assert(c >= 0 && c < 4)
      }
      assert(r.getAs[Double]("qerr") >= 0.0)
    }
    // every code value is actually used somewhere (codebook not dead)
    val used = rows.flatMap(r => (0 until 4).map(mi => (mi, r.getAs[Int](s"code$mi"))))
      .toSet
    assert(used.size > 4, s"only ${used.size} (subspace, code) pairs used")
    // k-means monotonicity: trained (iters=2) mean qerr ≤ seed-only
    val trained = rows.map(_.getAs[Double]("qerr")).sum / rows.length
    val seedOnly = graft.operators.Ann.s5PqEncode(t, iters = 0).collect()
      .map(_.getAs[Double]("qerr")).sum / rows.length
    info(f"s5 mean qerr: trained $trained%.3f vs seed-only $seedOnly%.3f")
    assert(trained <= seedOnly + 1e-9, s"$trained > $seedOnly")
  }

  test("st11 stream pq encode: equals batch s5 under the pinned model") {
    val batch = run("s5_pq_encode").collect().map(_.toSeq)
    val stream = run("st11_stream_pq_encode").collect().map(_.toSeq)
    assert(stream.length == batch.length && stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq)
  }

  test("s6 pq search: 10 ascending estimates; beats random by true distance") {
    val rows = run("s6_pq_search").collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Long]("vec_id") != 0L))
    val est = rows.map(_.getAs[Double]("d_est"))
    assert(est.forall(_ >= 0.0))
    assert(est.zip(est.tail).forall { case (a, b) => a <= b })
    // ADC sanity: selected ids are truly closer to the probe than the
    // corpus average (the estimate carries real signal, k=4 coarse)
    val t = Tables(spark, sf)
    val vs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1))
      .toMap
    val pv = vs(0L)
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sel = rows.map(r => l2(vs(r.getAs[Long]("vec_id")), pv))
    val all = vs.collect { case (id, v) if id != 0L => l2(v, pv) }
    info(f"s6 mean true L2²: selected ${sel.sum / sel.size}%.3f vs corpus ${all.sum / all.size}%.3f")
    assert(sel.sum / sel.size < all.sum / all.size)
  }

  test("s6 pq search: missing probe returns empty, not a crash") {
    val t = Tables(spark, sf)
    assert(graft.operators.Ann.s6PqSearch(t, probeId = -424242L).count() == 0)
  }

  test("s7 mmr rerank: rank1 = argmax rel, scores monotone, selection " +
      "replays the greedy definition") {
    val rows = run("s7_mmr_rerank").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
    // rank 1 is the pure-relevance argmax (empty selected set)
    val s1Top = run("s1_ann_bruteforce").collect().head.getAs[Long]("vec_id")
    assert(rows.head.getAs[Long]("doc_id") == s1Top)
    // as the selected set grows, the achievable MMR score can only
    // fall — the greedy scores are non-increasing
    val scores = rows.map(_.getAs[Double]("mmr"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // ids distinct; each step's score reconstructs from rel and the
    // max sim to the PREVIOUSLY selected docs (independent replay on
    // the collected candidate set)
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == 5)
    val t = Tables(spark, sf)
    val cand = t.embeddings.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r =>
        r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("v").toArray).toMap
    def rnd(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.zipWithIndex.drop(1).foreach { case (r, i) =>
      val prev = ids.take(i)
      val ms = prev.map(p => rnd(cos(cand(r.getAs[Long]("doc_id")), cand(p)), 4)).max
      val expect = rnd(0.7 * r.getAs[Double]("rel") - 0.3 * ms, 6)
      assert(r.getAs[Double]("mmr") == expect, s"step ${i + 1}")
    }
    // the facade form (explicit probe vector) selects identically
    val pv = t.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val viaFacade = graft.api.Graft.mmrRerank(
      t.embeddings.filter(col("vec_id") =!= 0L), "vec_id", "embedding", pv)
      .collect()
    assert(viaFacade.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("s4 knn join: ranked rows per src; recall ≥ 0.55 overall, ≥ 0.9 in the cos≥0.45 regime") {
    val rows = run("s4_knn_join").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Int]("rank"),
        r.getAs[Long]("dst"), r.getAs[Double]("cos")))
    val bySrc = rows.groupBy(_._1)
    bySrc.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))   // contiguous ranks
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0)._4 >= p(1)._4))                   // cos descending
    }
    // exact ground truth (test-only cross join at sf0.001 scale)
    val vv = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = vv.as("a").crossJoin(vv.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos", round(graft.functions.Vectors.cosine(
        col("a.v"), col("b.v")), 4))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a.vec_id")
          .orderBy(col("cos").desc, col("b.vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactAll = exact.map(e => (e._1, e._2)).toSet
    val got = rows.map(r => (r._1, r._3)).toSet
    // the corpus is isotropic: most exact top-3 neighbors sit in the
    // low-cosine bulk (~3σ ≈ 0.37) where NO hash index has recall
    // guarantees — so the overall bound is modest, and the real
    // promise (the d5-measured regime, cos ≥ 0.45) is held high
    val recall = got.count(exactAll).toDouble / exactAll.size
    val hi = exact.filter(_._3 >= 0.45).map(e => (e._1, e._2)).toSet
    val hiRecall =
      if (hi.isEmpty) 1.0 else got.count(hi).toDouble / hi.size
    info(f"s4 knn-join recall: overall $recall%.3f, cos≥0.45 $hiRecall%.3f (${hi.size} pairs)")
    assert(recall >= 0.55, f"overall recall $recall%.3f")
    assert(hiRecall >= 0.9, f"hi-sim recall $hiRecall%.3f")
  }

  test("m4 paired sample: every doc paired once, batches contiguous per shard") {
    val rows = run("m4_paired_sample").collect()
    assert(rows.length == 500)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 500)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      // in-shard positions cycle 0..31 in doc_id order
      val inOrder = rs.sortBy(_.getAs[Long]("doc_id"))
      inOrder.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("pos") == i % 32)
        assert(r.getAs[String]("batch_id") == s"$src:${i / 32}")
      }
    }
    // pair fingerprints are unique (no cross-pairing)
    assert(rows.map(_.getAs[String]("pair_fp")).distinct.length == 500)
  }

  test("m5 binary dedup: every group is a true payload-equal set, " +
      "keeper is its min id, reclaimed bytes exact") {
    val t = Tables(spark, sf)
    val groups = run("m5_binary_dedup").collect()
    assert(groups.nonEmpty)
    // recompute the payload digests locally
    val docs = t.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).take(128)).toMap
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byDigest = docs.groupBy { case (_, p) => sha(p) }
    groups.foreach { g =>
      val members = byDigest(g.getAs[String]("sha256"))
      assert(members.size == g.getAs[Long]("n_copies"))
      assert(members.keys.min == g.getAs[Long]("keep_doc"))
      val nb = members.values.head.getBytes("UTF-8").length
      assert(g.getAs[Long]("bytes_saved") == (members.size - 1).toLong * nb)
    }
    // and the report covers EVERY duplicated payload
    assert(groups.length == byDigest.count(_._2.size >= 2))
  }

  test("m1 binary meta: byte length == char length (ascii), sha256 shape") {
    val rows = run("m1_binary_meta").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getAs[String]("sha256").matches("[0-9a-f]{64}"))
      assert(r.getAs[String]("magic_hex").matches("[0-9a-f]{8}"))
      assert(r.getAs[Int]("n_bytes") > 0)
    }
  }

  test("m2 feature stub: deterministic fake decode matches local recompute") {
    val rows = run("m2_feature_stub").collect()
    assert(rows.length == 500)
    val texts = Tables(spark, sf).documents.select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.take(20).foreach { r =>
      val bytes = texts(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      val hist = new Array[Int](8)
      var sum = 0L
      bytes.foreach { b => val u = b & 0xff; hist(u % 8) += 1; sum += u }
      assert(r.getAs[Int]("n_bytes") == bytes.length)
      assert(r.getAs[Int]("top_bin") == hist.indexOf(hist.max))
      assert(r.getAs[Double]("mean_byte") ==
        math.floor(sum.toDouble / bytes.length * 10000 + 0.5) / 10000.0)
    }
  }

  test("m6 patch budget: every sample bounded by the budget, dims " +
      "patch-multiples, only over-budget images shrink, scaling is " +
      "the √-law") {
    val rows = run("m6_patch_budget").collect()
    assert(rows.length == 500)
    var shrunk = 0
    rows.foreach { r =>
      val (pr, wf, hf, tok) = (r.getAs[Long]("patches_raw"),
        r.getAs[Long]("w_fit"), r.getAs[Long]("h_fit"),
        r.getAs[Long]("img_tokens"))
      assert(tok <= 1024, s"budget blown: $tok")
      assert(wf % 14 == 0 && hf % 14 == 0)
      assert(tok == (wf / 14) * (hf / 14))
      if (pr <= 1024) {
        // under budget: the snapped grid is served unshrunk
        assert(tok == pr)
      } else {
        shrunk += 1
        // the √-law: the fitted grid is the floor-snap of s·dims,
        // so it recovers most of the budget (> budget/2 is loose
        // but proves real scaling, not a degenerate clamp)
        assert(tok > 1024 / 2, s"over-shrunk: $pr -> $tok")
        assert(wf < r.getAs[Long]("w") + 14)
      }
    }
    assert(shrunk > 0, "no over-budget image in the corpus")
    assert(shrunk < rows.length, "every image over budget")
  }

  test("m3 frame sample: stride-2 frames, thumbnails match local recompute") {
    val rows = run("m3_frame_sample").collect()
    assert(rows.nonEmpty)
    val texts = Tables(spark, sf).documents.select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.take(30).foreach { r =>
      val bytes = texts(r.getAs[Long]("doc_id")).getBytes("UTF-8")
      val f = r.getAs[Int]("frame_idx")
      assert(f % 2 == 0)
      assert(r.getAs[Int]("n_frames") == bytes.length / 32)
      val t0 = (0 until 8).map(k => bytes(f * 32 + k) & 0xff).sum / 8
      assert(r.getAs[Int]("t0") == t0)
      assert(r.getAs[String]("frame_md5").matches("[0-9a-f]{32}"))
    }
  }

  test("st1 streaming window agg equals batch date_trunc rollup") {
    val stream = run("st1_stream_windowed").collect()
    val batch = Tables(spark, sf).events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stream.nonEmpty)
    stream.foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(batch(k) == r.getAs[Long]("n"), s"window $k")
    }
    assert(stream.length == batch.size)
  }

  test("st3 append mode: emitted windows are final and match batch; tail withheld") {
    val emitted = run("st3_stream_late_append").collect()
    assert(emitted.nonEmpty)
    val batch = Tables(spark, sf).events
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    emitted.foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(batch(k) == r.getAs[Long]("n"), s"window $k not final at emit")
    }
    // stream-tail windows (watermark never passed them) stay unemitted
    assert(emitted.length < batch.size)
  }

  test("st4 incremental dedup equals the batch band-join twin, pairs ordered by arrival") {
    import graft.functions.Text
    val st4 = run("st4_stream_dedup").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_j")))
    assert(st4.nonEmpty)
    // batch twin: band-collision candidates + exact signature estimate
    val sigs = Tables(spark, sf).documents
      .withColumn("tk", Text.tokenize(col("text")))
      .select(col("doc_id"), Text.shinglesFast(3)(col("tk")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("mhs", Text.minhashSig(col("sh")))
      .select("doc_id", "mhs").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val bands = sigs.toSeq.flatMap { case (id, mhs) =>
      (0 until 4).map(b => (b, mhs.slice(b * 4, b * 4 + 4)) -> id)
    }
    val expected = bands.groupBy(_._1).values.flatMap { bucket =>
      val ids = bucket.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet.toSeq.flatMap { p: (Long, Long) =>
      val (a, b) = p
      val est = sigs(a).zip(sigs(b)).count(x => x._1 == x._2) / 16.0
      if (est >= 0.5) Some((a, b, est)) else None
    }.sortBy(p => (p._1, p._2))
    assert(st4.toSeq == expected,
      s"stream=${st4.length} batch=${expected.length}")
    // every emitted pair is (earlier, later): doc_a < doc_b given
    // id-ordered arrival
    st4.foreach { case (a, b, _) => assert(a < b) }
  }

  test("st16 write-time manifest: served answer equals batch io10, " +
      "manifest prunes, per-batch step is idempotent") {
    val batch = run("io10_stats_manifest").collect().map(_.toSeq)
    val stream = run("st16_stream_manifest_sink").collect().map(_.toSeq)
    assert(stream.nonEmpty && stream.toSeq == batch.toSeq)
    // the maintained manifest admits a strict file subset for the
    // served range — write-time stats actually prune
    val t = Tables(spark, sf)
    val man = graft.streaming.Streams.st16Manifest(t).get.collect()
    val admitted = man.count { r =>
      r.getAs[Long]("max_id") >= 100L && r.getAs[Long]("min_id") <= 399L
    }
    assert(admitted > 0 && admitted < man.length,
      s"admitted $admitted of ${man.length} manifest files")
    // redelivery: a retried batch's tag is already in the table log,
    // so the whole step no-ops — no re-land, no double-commit, no new
    // log version (drilled on a throwaway state so the live staged
    // one stays pristine)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st16_idem_").toString
    try {
      val replay = t.events.select("event_id", "event_type", "value")
        .filter(col("event_id") % 2 === 0)
      graft.streaming.Streams.st16SinkStep(spark, tmp, replay, 0L)
      val once = graft.streaming.Streams.st16Serve(
        spark, tmp, 100L, 399L).collect().map(_.toSeq).toSeq
      val vOnce = graft.sources.TableLog.open(tmp).latestVersion
      graft.streaming.Streams.st16SinkStep(spark, tmp, replay, 0L)
      val twice = graft.streaming.Streams.st16Serve(
        spark, tmp, 100L, 399L).collect().map(_.toSeq).toSeq
      assert(once.nonEmpty && twice == once)
      assert(graft.sources.TableLog.open(tmp).latestVersion == vOnce,
        "redelivered batch minted a new log version")
    } finally graft.Fs.deleteTree(tmp)
  }

  test("st21 backfill-then-tail: bootstrapped table holds every " +
      "event exactly once, both phases tagged, backfill re-run no-ops") {
    val batch = run("io10_stats_manifest").collect().map(_.toSeq)
    val served = run("st21_backfill_tail").collect().map(_.toSeq)
    // the bootstrap boundary is invisible: served == batch answer
    assert(served.nonEmpty && served.toSeq == batch.toSeq)
    val t = Tables(spark, sf)
    val table = s"${graft.Staging.lookup(s"${t.dir}:st21").get}/table"
    val log = graft.sources.TableLog.open(table)
    // both phases committed under their own tags
    assert(log.committed("backfill"))
    assert(log.committed("b@0") && log.committed("b@1"))
    // exactly once across the handoff: the live table's id multiset
    // is the full corpus's (count + distinct count pin it)
    val head = log.latestVersion.get
    val live = log.read(spark, graft.sources.Io.io10Schema, head)
    val all = t.events
    assert(live.count() == all.count())
    assert(live.select("event_id").distinct().count() ==
      all.select("event_id").distinct().count())
    // a re-run bootstrap finds its tag and lands nothing
    val nv = log.versions.size
    assert(graft.streaming.Streams
      .st21Backfill(spark, table, live.limit(5)).isEmpty)
    assert(graft.sources.TableLog.open(table).versions.size == nv)
  }

  test("st19 streaming expectations: per-batch versioned growth, " +
      "redelivery no-ops, half-committed retry completes without re-landing") {
    val t = Tables(spark, sf)
    // multi-batch growth: each micro-batch committed one version to
    // EACH destination log (the staging splits events into 2 files)
    run("st19_stream_expectations").collect()
    val root = graft.Staging.lookup(s"${t.dir}:st19").get
    val mainLog = graft.sources.TableLog.open(s"$root/main")
    val qLog = graft.sources.TableLog.open(s"$root/quarantine")
    assert(mainLog.versions.size >= 2 &&
      mainLog.versions.size == qLog.versions.size)
    assert(mainLog.committed("b@0") &&
      qLog.committed("b@0"))
    // drills on a throwaway root
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_st19_drill_").toString
    try {
      val batch = t.events.select("event_id", "event_type", "value")
        .filter(col("event_id") % 3 === 0)
      graft.streaming.Streams.st19SinkStep(spark, tmp, batch, 0L)
      val once = graft.streaming.Streams.st19Serve(spark, tmp)
        .collect().map(_.toSeq).toSeq
      val m = graft.sources.TableLog.open(s"$tmp/main")
      val q = graft.sources.TableLog.open(s"$tmp/quarantine")
      val mFiles = m.snapshot(m.latestVersion.get).map(_.path).toSet
      // redelivery: both tags present ⇒ the whole step no-ops
      graft.streaming.Streams.st19SinkStep(spark, tmp, batch, 0L)
      assert(m.latestVersion.contains(0L) && q.latestVersion.contains(0L))
      assert(graft.streaming.Streams.st19Serve(spark, tmp)
        .collect().map(_.toSeq).toSeq == once)
      // half-committed crash: quarantine's commit vanishes (the
      // retry window between the two side commits) — the retry must
      // complete the missing side WITHOUT re-landing, or it would
      // rewrite the part files main's log already references
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        s"$tmp/quarantine/_log/v000000000000.commit"))
      graft.streaming.Streams.st19SinkStep(spark, tmp, batch, 0L)
      val m2 = graft.sources.TableLog.open(s"$tmp/main")
      assert(m2.snapshot(m2.latestVersion.get).map(_.path).toSet == mFiles,
        "half-committed retry re-landed over committed files")
      assert(graft.sources.TableLog.open(s"$tmp/quarantine")
        .committed("b@0"))
      assert(graft.streaming.Streams.st19Serve(spark, tmp)
        .collect().map(_.toSeq).toSeq == once)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("sink file growth is BOUNDED: ~20 micro-batches under a file " +
      "budget keep the live count flat, reclaim dead batch dirs, and " +
      "honor redelivery tags across the rewrite") {
    val t = Tables(spark, sf)
    val ev = t.events.select("event_id", "event_type", "value")
    // ---- st16 (single destination) ----
    val root16 = java.nio.file.Files
      .createTempDirectory("graft_st16_budget_").toString
    try {
      val budget = 12
      (0 until 20).foreach { b =>
        graft.streaming.Streams.st16SinkStep(spark, root16,
          ev.filter(col("event_id") % 20 === b), b.toLong,
          maxFiles = budget)
      }
      val log = graft.sources.TableLog.open(root16)
      val live = log.snapshot(log.latestVersion.get)
      // the live file count is BOUNDED by the budget + one batch's
      // landing (a trigger compacts back under it), not 20 × 4 dirs
      assert(live.length <= budget + 4,
        s"live file count ${live.length} escaped the budget $budget")
      // dead batch dirs are physically reclaimed (vacuum + sweep):
      // far fewer than one dir per batch survives
      val dirs = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(root16))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.matches("[bm]\\d+")).toList
        } finally s.close()
      }
      assert(dirs.length < 10,
        s"${dirs.length} batch dirs survive — dead dirs not reclaimed")
      // every batch's tag still answers redelivery across rewrites…
      assert((0 until 20).forall(b =>
        log.committed(s"b@$b")),
        "a batch tag was lost across maintenance")
      // …so a redelivered old batch is a no-op (no version minted)
      val vBefore = log.latestVersion
      graft.streaming.Streams.st16SinkStep(spark, root16,
        ev.filter(col("event_id") % 20 === 3), 3L, maxFiles = budget)
      assert(log.latestVersion == vBefore,
        "redelivered batch re-landed after maintenance")
      // and the served answer is the whole corpus, exactly once
      val served = graft.streaming.Streams.st16Serve(
        spark, root16, Long.MinValue, Long.MaxValue)
        .agg(sum("n")).collect()(0).getLong(0)
      assert(served == ev.count(), s"served $served rows after maintenance")
      // torn-attempt reclaim: a crash between a maintenance rewrite
      // and its commit leaves an m-dir no commit references — the
      // NEXT trigger must sweep it (vacuum and the dead-dir sweep
      // both structurally cannot)
      ev.limit(5).write.parquet(s"$root16/m999")
      (20 until 25).foreach { b =>
        graft.streaming.Streams.st16SinkStep(spark, root16,
          ev.filter(col("event_id") % 20 === (b - 20)
            && col("event_id") % 40 >= 20), b.toLong, maxFiles = budget)
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root16/m999")),
        "torn maintenance dir survived the next trigger")
    } finally graft.Fs.deleteTree(root16)
    // ---- st19 (two destinations) ----
    val root19 = java.nio.file.Files
      .createTempDirectory("graft_st19_budget_").toString
    try {
      val budget = 6
      (0 until 20).foreach { b =>
        graft.streaming.Streams.st19SinkStep(spark, root19,
          ev.filter(col("event_id") % 20 === b), b.toLong,
          maxFiles = budget)
      }
      val m = graft.sources.TableLog.open(s"$root19/main")
      val q = graft.sources.TableLog.open(s"$root19/quarantine")
      assert(m.snapshot(m.latestVersion.get).length <= budget + 1)
      assert(q.snapshot(q.latestVersion.get).length <= budget + 1)
      assert((0 until 20).forall(b => m.committed(s"b@$b") &&
        q.committed(s"b@$b")))
      val dirs19 = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(root19))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.matches("b\\d+")).toList
        } finally s.close()
      }
      assert(dirs19.length < 10,
        s"${dirs19.length} st19 batch dirs survive")
      // the union serve still reconstructs the full classification
      val n = graft.streaming.Streams.st19Serve(spark, root19)
        .agg(sum("n")).collect()(0).getLong(0)
      assert(n == ev.count(), s"st19 served $n rows after maintenance")
    } finally graft.Fs.deleteTree(root19)
  }

  test("st18 CDC follow: mirror equals the live snapshot row-for-row; " +
      "redelivery no-ops; re-applying a version after a torn cursor heals") {
    val t = Tables(spark, sf)
    // following to the head reproduces the live snapshot exactly
    // (serve-path agg is gated by the oracle; this is the row-level
    // form), and the serve never scans the source
    run("st18_stream_cdc_follow").collect()
    val root = graft.Staging.lookup(s"${t.dir}:st18").get
    val log = graft.sources.Io.ordersLog(t)
    val latest = log.latestVersion.get
    val mirror = graft.streaming.Streams.st18Mirror(spark, root)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val live = log.read(spark, graft.sources.Io.ordersSchema, latest)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(mirror.nonEmpty && mirror.toSeq == live.toSeq)
    // a redelivered (already-applied) version is dropped by the cursor
    val mLog = graft.streaming.Streams.stateLog(root)
    val genBefore = mLog.latestVersion.get
    graft.streaming.Streams.st18FollowStep(spark, root, log, latest)
    assert(mLog.latestVersion.contains(genBefore),
      "redelivered version committed a new mirror generation")
    // crash drill: cursor torn back one version (the crash window is
    // between the merge COMMIT and the cursor write) — re-applying
    // the head version must heal the cursor off the already-committed
    // tag WITHOUT re-merging (no new generation), and the mirror
    // still equals the live snapshot
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "cursor.meta"),
      (latest - 1).toString.getBytes("UTF-8"))
    graft.streaming.Streams.st18FollowStep(spark, root, log, latest)
    assert(mLog.latestVersion.contains(genBefore),
      "torn-cursor heal re-merged instead of advancing the cursor")
    val healed = graft.streaming.Streams.st18Mirror(spark, root)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(healed.toSeq == live.toSeq, "re-applied version diverged")
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(root, "cursor.meta")).get(0).trim
      == latest.toString)
  }

  test("st13 incremental group maintenance equals batch d6 bit-for-bit") {
    // connectivity through the compressed edge log must reproduce the
    // batch CC over full pair evidence exactly: same components, same
    // min-id keep_doc, same group sizes
    val batch = run("d6_dedup_groups").collect().map(_.toSeq)
    val stream = run("st13_stream_group_maintain").collect().map(_.toSeq)
    assert(stream.nonEmpty && stream.length == batch.length)
    assert(stream.toSeq == batch.toSeq)
  }

  test("st13 bridge path: an arrival merges two existing groups, still = batch CC") {
    // the sf corpora only exercise single-root adoption (measured: 13
    // adoptions, 0 bridges at sf0.01), so the bridge logic needs its
    // own corpus: docs 1,2 and 3,4 form two separate near-dup groups
    // before doc 100 arrives sharing content with BOTH — the arrival
    // must log a root-root bridge that compaction resolves into ONE
    // component. Token strings were searched offline so every needed
    // pair genuinely band-collides under the deterministic md5
    // minhash (asserted below as a precondition, not assumed).
    import SparkSpec.spark.implicits._
    val a = (0 to 7).map(i => s"a35x$i")
    val b = (0 to 13).map(i => s"b35x$i")
    val corpus = Seq(
      1L -> a.mkString(" "),
      2L -> (a :+ "a35ext").mkString(" "),
      3L -> b.mkString(" "),
      4L -> (b :+ "b35ext").mkString(" "),
      100L -> (a ++ b.take(11)).mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft_st13_spec_")
    dir.toFile.deleteOnExit()
    corpus.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir.toString)
    val docs = t.documents.select("doc_id", "text")
    // precondition: exactly the designed pair structure survives the
    // band-candidate join + exact verify at threshold 0.35
    val pairs = graft.operators.Dedup.minhashPairsFrom(docs, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L), (1L, 100L), (3L, 100L),
      (4L, 100L)), s"corpus no longer bridges: $pairs")
    val stream = graft.streaming.Streams
      .st13StreamGroupMaintain(t, 0.35).collect()
    val batch = graft.operators.Dedup.dedupGroupsFrom(docs, 0.35).collect()
    assert(stream.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    // and the merge really happened: one 5-doc component kept at min id
    assert(stream.length == 5)
    stream.foreach { r =>
      assert(r.getAs[Long]("keep_doc") == 1L)
      assert(r.getAs[Long]("group_size") == 5L)
    }
  }

  test("st13 stale-root path across 3 waves: late adoption of a superseded root still converges") {
    // the core claim behind root compression is that a STALE root
    // (its group merged into a smaller one since the label was
    // written) still preserves connectivity. That needs ≥3 waves:
    //   wave 1: groups {1,2} (root 1) and {5,6} (root 5)
    //   wave 2: doc 10 bridges both — 5's true root becomes 1, but
    //           labels(5)=5 and labels(6)=5 are now stale
    //   wave 3: doc 20 pairs ONLY with the B family and adopts the
    //           STALE root 5; connectivity must flow 20→5→10→1
    // Token strings searched offline; pair structure asserted below.
    import SparkSpec.spark.implicits._
    val a = (0 to 9).map(i => s"p6547a$i")
    val b = (0 to 11).map(i => s"p6547b$i")
    val corpus = Map(
      1L  -> a.mkString(" "),
      2L  -> (a :+ "p6547ax").mkString(" "),
      5L  -> b.mkString(" "),
      6L  -> (b :+ "p6547bx").mkString(" "),
      10L -> (a.take(9) ++ b.take(9)).mkString(" "),
      20L -> (b ++ Seq("p6547f0", "p6547f1")).mkString(" "))
    def frame(ids: Long*) =
      ids.map(i => i -> corpus(i)).toDF("doc_id", "text")
    val all = frame(corpus.keys.toSeq.sorted: _*)
    val pairs = graft.operators.Dedup.minhashPairsFrom(all, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 10L), (2L, 10L), (5L, 6L),
      (5L, 10L), (6L, 10L), (5L, 20L), (6L, 20L)),
      s"corpus lost its designed pair structure: $pairs")
    val st = StateTable.open(spark, st13Family)
    graft.streaming.Streams.st13MaintainStep(st, frame(1L, 2L, 5L, 6L), 0.35)
    graft.streaming.Streams.st13MaintainStep(st, frame(10L), 0.35)
    graft.streaming.Streams.st13MaintainStep(st, frame(20L), 0.35)
    // the wave-3 arrival really adopted the SUPERSEDED root
    val labels = spark.read.parquet(st.dir("labels")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(20L) == 5L, s"labels=$labels — staleness not exercised")
    assert(labels(10L) == 1L && labels(5L) == 5L)
    // compaction resolves everything to one component at min id
    val got = graft.streaming.Streams.st13Compact(st).collect()
    val want = graft.operators.Dedup.dedupGroupsFrom(all, 0.35).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    assert(got.length == 6)
    got.foreach { r =>
      assert(r.getAs[Long]("keep_doc") == 1L)
      assert(r.getAs[Long]("group_size") == 6L)
    }
  }

  test("st4/st5 registries under the RocksDB state store: identical emissions") {
    // the documented production path for large dedup registries (state
    // off-heap, SST-backed) — exercised, not just named: both stateful
    // registries must emit bit-identical pair sets under either
    // provider, since provider choice is storage, not semantics
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def emissions() = (
      run("st4_stream_dedup").collect().map(_.toSeq).toSeq,
      run("st5_stream_embed_dedup").collect().map(_.toSeq).toSeq)
    val (h4, h5) = emissions() // default (HDFSBackedStateStoreProvider)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val (r4, r5) = emissions()
      assert(r4.nonEmpty && r5.nonEmpty)
      assert(r4 == h4, s"st4 rocksdb=${r4.length} hdfs=${h4.length}")
      assert(r5 == h5, s"st5 rocksdb=${r5.length} hdfs=${h5.length}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("st5 incremental embedding dedup equals the batch multi-probe candidates + sketch cut") {
    import graft.operators.Dedup
    val st5 = run("st5_stream_embed_dedup").collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Int]("ham")))
    assert(st5.nonEmpty)
    val cut = graft.streaming.Streams.st5HamCut(0.45)
    // batch twin: radius-1 candidates, then 512-bit sketch Hamming
    val vecs = Tables(spark, sf).embeddings.select("vec_id", "embedding")
    val sketches = Dedup.hyperplaneSig(vecs, 512)
      .select("vec_id", "sig").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("sig")).toMap
    val expected = Dedup.embeddingCandidates(vecs, probeRadius = 1)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
      .flatMap { case (a, b) =>
        val h = sketches(a).zip(sketches(b)).count(p => p._1 != p._2)
        if (h <= cut) Some((a, b, h)) else None
      }.sortBy(p => (p._1, p._2))
    assert(st5.toSeq == expected.toSeq,
      s"stream=${st5.length} batch=${expected.length}")
  }

  test("st6 stream-stream interval join equals the batch self-join twin") {
    val got = run("st6_stream_stream_join").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("user_id"), r.getAs[Long]("gap_us"))).toSet
    val ev = Tables(spark, sf).events
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val want = c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.forall { case (_, _, _, gap) => gap >= 0 && gap <= 1800000000L })
  }

  test("st2 streaming sessions = q9 sessions minus each user's open last session") {
    val q9 = run("q9_sessionize").collect()
    val st2 = run("st2_stream_sessionize").collect()
    val users = q9.map(_.getAs[Long]("user_id")).distinct.length
    assert(st2.length == q9.length - users)
    // per-user: emitted session count = q9 count - 1, and event counts match prefix
    val q9ByUser = q9.groupBy(_.getAs[Long]("user_id"))
    st2.groupBy(_.getAs[Long]("user_id")).foreach { case (u, ss) =>
      val batchSessions = q9ByUser(u).sortBy(_.getAs[Long]("session_id"))
      assert(ss.length == batchSessions.length - 1)
      val streamCounts = ss.map(_.getAs[Int]("n_events")).sorted
      val batchPrefix = batchSessions.dropRight(1).map(_.getAs[Long]("n_events").toInt).sorted
      assert(streamCounts.sameElements(batchPrefix), s"user $u")
    }
  }

  test("st8 incremental line dedup equals batch d8 (first arrival owns)") {
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[Double]("kept_frac"), r.getAs[String]("kept_md5"))
    val batch = run("d8_line_dedup").collect().map(key).toMap
    val stream = run("st8_stream_line_dedup").collect().map(key).toMap
    assert(stream.nonEmpty && stream == batch)
  }

  test("st10 file sink equals st3, commits through the _spark_metadata log") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("n")
    val mem = run("st3_stream_late_append").collect().map(key).toMap
    val file = run("st10_stream_file_sink").collect().map(key).toMap
    assert(file.nonEmpty && file == mem)
    // exactly-once: the sink wrote its commit log, so readers list
    // committed files from it, not from the directory
    val dir = graft.streaming.Streams.fileSinkDir(Tables(spark, sf)).get
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_spark_metadata")))
  }

  test("st4 file sink: checkpointed dedup-registry emissions equal the memory-sink result") {
    val t = Tables(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_j"))
    val mem = run("st4_stream_dedup").collect().map(key).toSet
    val file = graft.streaming.Streams.st4FileSink(t).collect()
      .map(key).toSet
    assert(file.nonEmpty && file == mem)
    // exactly-once: the stateful query's output committed through the
    // sink's _spark_metadata log, same contract st10 proves for the
    // windowed aggregation
    val dir = graft.Staging.lookup(s"${t.dir}:st4sink:0.5").get
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "out", "_spark_metadata")))
  }

  test("st4 under the RocksDB state store provider equals the memory-provider result") {
    // the production state backend the streaming docs point at: same
    // registry logic, state held in RocksDB instead of the in-memory
    // HDFSBackedStateStore — emissions must be identical
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_j"))
    val mem = run("st4_stream_dedup").collect().map(key).toSet
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val rocks = run("st4_stream_dedup").collect().map(key).toSet
      assert(rocks.nonEmpty && rocks == mem)
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("st9 stream-static decontamination equals batch d7 (stateless join)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id")) ->
        r.getAs[Long]("n_shared")
    val batch = run("d7_decontaminate").collect().map(key).toMap
    val stream = run("st9_stream_decontaminate").collect().map(key).toMap
    assert(stream.nonEmpty && stream == batch)
  }

  test("st7 incremental packing equals batch t6 (id-split batches)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("pack_first"), r.getAs[Long]("pack_last"))
    val batch = run("t6_sequence_pack").collect().map(key).toMap
    val stream = run("st7_stream_pack").collect().map(key).toMap
    assert(stream.nonEmpty && stream == batch)
  }

  /** Six-doc corpus (2 near-dup families + a bridge + a stale-root
    * adopter) shared by the st13 state-layout tests below — the same
    * designed pair structure as the stale-root test above.
    */
  private def st13Corpus = {
    val a = (0 to 9).map(i => s"p6547a$i")
    val b = (0 to 11).map(i => s"p6547b$i")
    Map(
      1L  -> a.mkString(" "),
      2L  -> (a :+ "p6547ax").mkString(" "),
      5L  -> b.mkString(" "),
      6L  -> (b :+ "p6547bx").mkString(" "),
      10L -> (a.take(9) ++ b.take(9)).mkString(" "),
      20L -> (b ++ Seq("p6547f0", "p6547f1")).mkString(" "))
  }

  test("st13 step plans scan the state registries PRUNED: PartitionFilters on pb, no Exchange over a registry scan") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val corpus = st13Corpus
    def frame(ids: Long*) =
      ids.map(i => i -> corpus(i)).toDF("doc_id", "text")
    // compaction off for this test: its pb repartition is the one
    // legitimate raw state shuffle, and it is out-of-band (not the
    // per-batch probe path this lock is about)
    val st = StateTable.open(spark,
      st13Family, compactAboveFiles = 10000)
    // capture every query execution the steps run — the lock is on
    // the ACTUAL step plans, not a reconstruction
    val captured =
      new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.streaming.Streams.st13MaintainStep(st, frame(1L, 2L, 5L, 6L), 0.35)
      graft.streaming.Streams.st13MaintainStep(st, frame(10L), 0.35)
      graft.streaming.Streams.st13MaintainStep(st, frame(20L), 0.35)
      // listener delivery is async — wait for the plans to land
      val deadline = System.nanoTime + 30e9.toLong
      def flatten(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec        => Seq(q.plan)
          case r: ReusedExchangeExec    => Seq(r.child)
          // cached frames hide their build plan (where the state
          // scans live) behind the in-memory leaf — descend into it
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(m.relation.cachedPlan)
          case other                    => other.children
        }
        p +: kids.flatMap(flatten)
      }
      def stateScans(of: String) = {
        import scala.jdk.CollectionConverters._
        captured.asScala.toSeq.flatMap(flatten).collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains(of)) => f
        }
      }
      while (stateScans(st.dir("bands")).isEmpty &&
          System.nanoTime < deadline) Thread.sleep(100)
      // wave 2/3 probes scanned the bands registry (wave 1 sees an
      // empty dir and short-circuits to an empty frame)
      val bandScans = stateScans(st.dir("bands"))
      assert(bandScans.nonEmpty, "no bands-registry scan captured")
      // every registry scan is partition-pruned on pb — the scan
      // carries partition filters, never a full-registry read
      (bandScans ++ stateScans(st.dir("labels")) ++ stateScans(st.dir("sh")))
        .foreach { s =>
          assert(s.partitionFilters.nonEmpty,
            s"unpruned state scan: ${s.simpleString(200)}")
          assert(s.partitionFilters.mkString(",").contains("pb"),
            s.partitionFilters.mkString(","))
        }
      // and registry ROWS are never shuffled raw: no Exchange whose
      // input (through unary operators — project/filter/codegen) is a
      // state scan. Shuffles of derived frames (the candidate-pair
      // distinct, output-sized) are fine; moving the corpus-sized
      // side is not.
      def scanUnderUnary(p: SparkPlan): Option[FileSourceScanExec] =
        p match {
          case f: FileSourceScanExec => Some(f)
          case q: QueryStageExec     => scanUnderUnary(q.plan)
          case a: AdaptiveSparkPlanExec => scanUnderUnary(a.executedPlan)
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            scanUnderUnary(m.relation.cachedPlan)
          case u if u.children.size == 1 => scanUnderUnary(u.children.head)
          case _ => None
        }
      def isStateScan(f: FileSourceScanExec) =
        f.relation.location.rootPaths.exists(p =>
          p.toString.contains(st.dir("bands")) ||
            p.toString.contains(st.dir("labels")) ||
            p.toString.contains(st.dir("sh")))
      import scala.jdk.CollectionConverters._
      val offending = captured.asScala.toSeq.flatMap(flatten).collect {
        case e: ShuffleExchangeExec
          if scanUnderUnary(e.child).exists(isStateScan) => e
      }
      assert(offending.isEmpty,
        s"registry rows shuffled raw: ${offending.headOption}")
    } finally spark.listenerManager.unregister(listener)
    // and the layout change didn't move the answer: compaction still
    // equals batch CC over the same corpus
    val got = graft.streaming.Streams.st13Compact(st).collect()
    val all = frame(corpus.keys.toSeq.sorted: _*)
    val want = graft.operators.Dedup.dedupGroupsFrom(all, 0.35).collect()
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }

  test("st4 sink compaction: committed files rewritten past the budget, pairs unchanged") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val ab = (0 to 9).map(i => s"c9w$i").mkString(" ")
    // 24 docs, one file each (maxFilesPerTrigger=1 → 24 micro-batches,
    // ~one sink file per batch): odds identical, evens one token off —
    // every batch after the first emits pairs
    val docs = (1L to 24L).map(i =>
      (i, if (i % 2 == 0) ab + s" x$i" else ab)).toDF("doc_id", "text")
    val root = graft.Staging.scratch("st4compact_spec")
    docs.repartition(24).write.parquet(s"$root/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    val q = graft.streaming.Streams
      .incrementalMinhashDedup(stream, "doc_id", "text", 0.5).toDF()
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val before = graft.Fs.list(s"$root/out").count(_.name.endsWith(".parquet"))
    val rowsBefore = spark.read.parquet(s"$root/out").distinct()
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    assert(rowsBefore.nonEmpty)
    assert(before > 16, s"expected ~one sink file per batch, got $before")
    graft.streaming.Streams.compactFileSink(spark, s"$root/out")
    val after = graft.Fs.list(s"$root/out").count(_.name.endsWith(".parquet"))
    assert(after < before, s"before=$before after=$after")
    // compaction moved every committed row faithfully
    val rowsAfter = spark.read.parquet(s"$root/out").distinct()
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    assert(rowsAfter == rowsBefore)
    // under the budget the trigger is a no-op
    graft.streaming.Streams.compactFileSink(spark, s"$root/out")
    assert(graft.Fs.list(s"$root/out").count(_.name.endsWith(".parquet")) == after)
  }

  test("st13 state compaction: file counts drop past the budget, groups unchanged") {
    import SparkSpec.spark.implicits._
    val corpus = st13Corpus
    def frame(ids: Long*) =
      ids.map(i => i -> corpus(i)).toDF("doc_id", "text")
    def drive(st: StateTable): Unit =
      corpus.keys.toSeq.sorted.foreach { id =>
        graft.streaming.Streams.st13MaintainStep(st, frame(id), 0.35)
      }
    // control: budget high enough that the trigger never fires —
    // one-doc waves accumulate files per dir
    val loose = StateTable.open(spark, st13Family, compactAboveFiles = 10000)
    drive(loose)
    val looseCounts = loose.fileCounts
    // trigger path: tiny budget — the step itself compacts
    val tight = StateTable.open(spark, st13Family, compactAboveFiles = 4)
    drive(tight)
    val tightCounts = tight.fileCounts
    assert(looseCounts("bands") > 4, looseCounts.toString)
    assert(tightCounts("bands") < looseCounts("bands"),
      s"loose=$looseCounts tight=$tightCounts")
    // compaction is a pure rewrite: both sessions' groups equal batch
    val want = graft.operators.Dedup
      .dedupGroupsFrom(frame(corpus.keys.toSeq.sorted: _*), 0.35)
      .collect().map(_.toSeq).toSeq
    assert(graft.streaming.Streams.st13Compact(loose)
      .collect().map(_.toSeq).toSeq == want)
    assert(graft.streaming.Streams.st13Compact(tight)
      .collect().map(_.toSeq).toSeq == want)
    // explicit compaction is idempotent and shrinks-or-holds files
    tight.compact()
    val again = tight.fileCounts
    assert(again.values.sum <= tightCounts.values.sum)
    assert(graft.streaming.Streams.st13Compact(tight)
      .collect().map(_.toSeq).toSeq == want)
    // sorted rewrite: every compacted bucket file is internally
    // ordered by its probe key — bands by (band, sig), shingles and
    // labels by doc_id — so row-group min/max stats on the key are
    // monotone and a pruned probe's isin filter skips inside buckets
    def assertSorted[K: Ordering](dir: String,
        key: org.apache.spark.sql.Row => K): Unit =
      graft.Fs.listRec(dir, ".parquet").foreach { f =>
        val ks = spark.read.parquet(f.path).collect().toSeq.map(key)
        assert(ks == ks.sorted, s"unsorted bucket file $f")
      }
    assertSorted(tight.dir("bands"),
      r => (r.getAs[Int]("band"), r.getAs[String]("sig")))
    assertSorted(tight.dir("sh"), _.getAs[Long]("doc_id"))
    assertSorted(tight.dir("labels"), _.getAs[Long]("doc_id"))
  }

  test("st14 maintained index serves batch r8's BM25 result bit-for-bit") {
    val got = run("st14_stream_index_maintain").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val want = run("r8_bm25_search").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("st14 maintained postings equal the batch TF table; serving " +
      "reads are pb-PRUNED") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val spark = SparkSpec.spark
    val docs = (1L to 12L).map(i =>
      (i, s"alpha bravo w$i " + ("alpha " * (i % 3).toInt)))
      .toDF("doc_id", "text")
    val st = StateTable.open(spark, st14Family,
      compactAboveFiles = 10000)
    // three disjoint arrival waves
    Seq(1L to 4L, 5L to 8L, 9L to 12L).foreach { ids =>
      graft.streaming.Streams.st14MaintainStep(st,
        docs.filter(col("doc_id").isin(ids: _*)))
    }
    // maintained postings == batch tokenize over the union corpus
    val maintained = spark.read.parquet(st.dir("postings"))
      .select("doc_id", "term", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val direct = docs
      .select(col("doc_id"),
        explode(graft.functions.Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(maintained.nonEmpty && maintained.sameElements(direct))
    // the serving probe's postings scan carries pb PartitionFilters —
    // a query never rescans the full index
    val probe = graft.streaming.Streams
      .st14PostingProbe(st, Seq("alpha", "bravo"))
    probe.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec    => Seq(f)
      case o                        => o.children.flatMap(scans)
    })
    val ss = scans(probe.queryExecution.executedPlan)
    assert(ss.nonEmpty, probe.queryExecution.executedPlan.toString)
    ss.foreach { s =>
      assert(s.partitionFilters.nonEmpty &&
        s.partitionFilters.mkString(",").contains("pb"),
        s.simpleString(200))
    }
    // serving the maintained state equals batch BM25 over the corpus
    val got = graft.streaming.Streams
      .st14Serve(st, Seq("alpha", "bravo"), 5)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Search.searchBm25From(
      docs.select(col("doc_id"),
          explode(graft.functions.Text.tokenize(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")),
      Seq("alpha", "bravo"), 5).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("st15 maintained IVF index serves batch s3's ANN result " +
      "bit-for-bit") {
    val got = run("st15_stream_ann_maintain").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    val want = run("s3_ann_ivf").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("st15 serving reads only the probe lists (cid-PRUNED); " +
      "compaction shrinks files, serving unchanged; a root resumes") {
    import SparkSpec.spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val spark = SparkSpec.spark
    val t = Tables(spark, sf)
    val cb = graft.operators.Ann.assignedVecs(t, 16)._2
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = vecs.count()
    def drive(st: StateTable,
        waves: Int): Unit =
      (0 until waves).foreach { w =>
        graft.streaming.Streams.st15MaintainStep(st, cb,
          vecs.filter(col("vec_id") % waves === w))
      }
    val qv = vecs.filter(col("vec_id") === 7L)
      .collect()(0).getSeq[Double](1)
    val serve = (st: StateTable) =>
      graft.streaming.Streams.st15Serve(st, cb, qv, 2, 10)
        .collect().map(_.toSeq).toSeq
    val loose = StateTable.open(spark, st15Family,
      compactAboveFiles = 10000)
    drive(loose, 8)
    // maintained rows = one per vector, assignments = batch expression
    assert(spark.read.parquet(loose.dir("vectors")).count() == n)
    // the serving scan carries cid PartitionFilters
    val probe = graft.streaming.Streams.st15ListProbe(loose, Seq(0, 3))
    probe.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec    => Seq(f)
      case o                        => o.children.flatMap(scans)
    })
    val ss = scans(probe.queryExecution.executedPlan)
    assert(ss.nonEmpty && ss.forall(s => s.partitionFilters.nonEmpty &&
      s.partitionFilters.mkString(",").contains("cid")),
      ss.map(_.simpleString(200)).mkString("\n"))
    // compaction: tiny budget path ends with fewer files, same result
    val tight = StateTable.open(spark, st15Family,
      compactAboveFiles = 4)
    drive(tight, 8)
    val looseFiles =
      graft.Fs.listRec(loose.dir("vectors"), ".parquet").length
    val tightFiles =
      graft.Fs.listRec(tight.dir("vectors"), ".parquet").length
    assert(looseFiles > 4 && tightFiles < looseFiles,
      s"loose=$looseFiles tight=$tightFiles")
    assert(serve(loose).nonEmpty && serve(loose) == serve(tight))
    // durable root: waves split across two state opens = continuous
    val root = graft.Staging.scratch("st15_resume_spec")
    val a = StateTable.open(spark, st15Family, Some(root))
    (0 until 4).foreach { w =>
      graft.streaming.Streams.st15MaintainStep(a, cb,
        vecs.filter(col("vec_id") % 8 === w))
    }
    val b = StateTable.open(spark, st15Family, Some(root))
    (4 until 8).foreach { w =>
      graft.streaming.Streams.st15MaintainStep(b, cb,
        vecs.filter(col("vec_id") % 8 === w))
    }
    assert(serve(b) == serve(loose))
  }

  test("st14 edges: token-less docs and unknown query terms match " +
      "the batch operator") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    // doc 3 is empty, doc 4 punctuation-only: they produce no
    // postings and no doclen row, so they must not shift nd/avgdl —
    // in EITHER engine form
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma", 3L -> "",
      4L -> "!!! ???", 5L -> "beta beta beta delta")
      .toDF("doc_id", "text")
    val st = StateTable.open(spark, st14Family)
    docs.collect().zipWithIndex.foreach { case (r, _) =>
      graft.streaming.Streams.st14MaintainStep(st,
        Seq((r.getLong(0), r.getString(1))).toDF("doc_id", "text"))
    }
    // "zeta" appears nowhere: df would be 0 — the term must simply
    // not contribute, same as the batch join dropping it
    val terms = Seq("alpha", "beta", "zeta")
    val got = graft.streaming.Streams.st14Serve(st, terms, 5)
      .collect().map(_.toSeq).toSeq
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val want = graft.operators.Search.searchBm25From(tf, terms, 5)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // an all-unknown query returns empty, not an error
    assert(graft.streaming.Streams.st14Serve(st,
      Seq("nosuchterm"), 5).collect().isEmpty)
  }

  test("st14 state compaction: file counts drop past the budget, " +
      "serving unchanged; a durable root resumes") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = (1L to 16L).map(i =>
      (i, s"query term$i common words here")).toDF("doc_id", "text")
    def drive(st: StateTable): Unit =
      (1L to 16L).foreach { id =>
        graft.streaming.Streams.st14MaintainStep(st,
          docs.filter(col("doc_id") === id))
      }
    val loose = StateTable.open(spark, st14Family,
      compactAboveFiles = 10000)
    drive(loose)
    val looseCounts = loose.fileCounts
    val tight = StateTable.open(spark, st14Family,
      compactAboveFiles = 4)
    drive(tight)
    val tightCounts = tight.fileCounts
    assert(looseCounts("postings") > 4, looseCounts.toString)
    assert(tightCounts("postings") < looseCounts("postings"),
      s"loose=$looseCounts tight=$tightCounts")
    // the stats log collapses to its running total, so it cannot grow
    // with batch count past a compaction
    assert(tightCounts("stats") <= 4, tightCounts.toString)
    val serve = (st: StateTable) =>
      graft.streaming.Streams.st14Serve(st, Seq("query", "common"), 5)
        .collect().map(_.toSeq).toSeq
    assert(serve(loose).nonEmpty && serve(loose) == serve(tight))
    // durable root: stop after half the waves, reopen, continue —
    // equals one continuous session
    val root = graft.Staging.scratch("st14_resume_spec")
    val s1 = StateTable.open(spark, st14Family, Some(root))
    (1L to 8L).foreach { id =>
      graft.streaming.Streams.st14MaintainStep(s1,
        docs.filter(col("doc_id") === id))
    }
    val s2 = StateTable.open(spark, st14Family, Some(root))
    (9L to 16L).foreach { id =>
      graft.streaming.Streams.st14MaintainStep(s2,
        docs.filter(col("doc_id") === id))
    }
    assert(serve(s2) == serve(loose))
  }

  /** A multi-term st14 corpus: `nDocs` docs of `perDoc` distinct terms
    * each, drawn striding through a `pool`-term vocabulary — every
    * posting bucket holds many unrelated terms, which is what makes
    * the sorted-rewrite row-group selectivity measurable.
    */
  private def st14WideCorpus(nDocs: Int, perDoc: Int = 50,
      pool: Int = 2000): org.apache.spark.sql.DataFrame = {
    import SparkSpec.spark.implicits._
    (1 to nDocs).map { i =>
      val terms = (0 until perDoc).map(j => f"t${(i * 37 + j) % pool}%04d")
      (i.toLong, terms.distinct.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("st14 sorted compaction: a served term's scan reads FEWER rows " +
      "(row-group pruning) and compacted row-group bounds are ordered") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = st14WideCorpus(800)
    val st = StateTable.open(spark, st14Family,
      compactAboveFiles = 100000)
    (0 until 8).foreach { w =>
      graft.streaming.Streams.st14MaintainStep(st,
        docs.filter(col("doc_id") % 8 === w))
    }
    val terms = Seq("t0040", "t0060")
    def measureServe(): (Long, Seq[Seq[Any]]) = {
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            records.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(lst)
      try {
        val rows = graft.streaming.Streams.st14Serve(st, terms, 5)
          .collect().map(_.toSeq).toSeq
        Thread.sleep(2000) // listener bus drains async
        (records.get(), rows)
      } finally spark.sparkContext.removeSparkListener(lst)
    }
    val (preRecords, preRows) = measureServe()
    // compact with small parquet row groups so min/max stats have
    // several groups to prune between (the production analogue is the
    // default 128 MB group inside a multi-GB bucket)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    val oldDict = hc.get("parquet.enable.dictionary")
    try {
      // dictionary encoding buffers tiny, so block-size checks never
      // fire on a small corpus — turn it off so the file genuinely
      // rolls row groups at the forced size
      hc.setInt("parquet.block.size", 4 * 1024)
      hc.setInt("parquet.page.size", 1024)
      hc.setBoolean("parquet.enable.dictionary", false)
      st.compact()
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", oldPage)
      if (oldDict == null) hc.unset("parquet.enable.dictionary")
      else hc.set("parquet.enable.dictionary", oldDict)
    }
    val (postRecords, postRows) = measureServe()
    assert(postRows.nonEmpty && postRows == preRows)
    info(s"serve recordsRead: pre-compaction=$preRecords post=$postRecords")
    assert(postRecords < (preRecords * 6) / 10,
      s"sorted compaction should cut the serving scan: " +
        s"pre=$preRecords post=$postRecords")
    // footer evidence: compacted posting files carry SEVERAL row
    // groups whose term min/max ranges are ordered and non-overlapping
    // — exactly what lets the isin data filter skip groups
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val files = graft.Fs.listRec(st.dir("postings"), ".parquet")
    var multiGroup = 0
    files.foreach { f =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.path), hc))
      try {
        val bounds = rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == "term").get
          val s = cc.getStatistics
          (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
            .toStringUsingUTF8,
            s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8)
        }
        if (bounds.length > 1) multiGroup += 1
        bounds.sliding(2).foreach {
          case Seq((_, max1), (min2, _)) =>
            assert(max1 <= min2,
              s"row-group term bounds overlap in $f: $bounds")
          case _ => ()
        }
      } finally rd.close()
    }
    assert(multiGroup > 0,
      "expected at least one multi-row-group compacted posting file")
  }

  test("state bucket auto-sizing: counts pinned at probe scales; " +
      "st14 re-buckets at compaction and a resumed root keeps the count") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    import graft.streaming.Streams.stateBucketsFor
    // pinned operating points (64 MB target buckets): floor at small
    // state, ~bytes/target as powers of two, capped at 2^16 where the
    // within-bucket sort takes over
    assert(stateBucketsFor(0L) == 16)
    assert(stateBucketsFor(1L << 30) == 16)           // 1 GB → floor
    assert(stateBucketsFor(10L << 30) == 256)         // 10 GB → 160 → 256
    assert(stateBucketsFor(1L << 40) == 16384)        // 1 TB exact
    assert(stateBucketsFor(100L << 40) == 65536)      // 100 TB → cap
    assert(stateBucketsFor(1L << 40, floor = 64) == 16384)
    // end-to-end: a tiny target forces a re-bucket during compaction;
    // serving stays correct and a reopened root resumes the new count
    val root = graft.Staging.scratch("st14_rebucket_spec")
    val docs = st14WideCorpus(200)
    val st = StateTable.open(spark, st14Family, Some(root),
      compactAboveFiles = 100000, targetBucketBytes = 4096)
    (0 until 4).foreach { w =>
      graft.streaming.Streams.st14MaintainStep(st,
        docs.filter(col("doc_id") % 4 === w))
    }
    assert(st.nBuckets == 16)
    st.compact()
    assert(st.nBuckets > 16, s"tiny target should grow buckets: ${st.nBuckets}")
    // partition dirs beyond the old [0,16) domain actually exist
    val pbs = graft.Fs.listRec(st.dir("postings"), ".parquet")
      .map(_.path.split('/').init.last)
      .filter(_.startsWith("pb=")).map(_.stripPrefix("pb=").toInt)
    assert(pbs.exists(_ >= 16), s"no re-bucketed partitions: $pbs")
    val terms = Seq("t0040", "t0060")
    val got = graft.streaming.Streams.st14Serve(st, terms, 5)
      .collect().map(_.toSeq).toSeq
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val want = graft.operators.Search.searchBm25From(tf, terms, 5)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
    // resume: the persisted count survives a reopen, and maintenance
    // over the resumed handle writes into the re-bucketed domain
    val re = StateTable.open(spark, st14Family, Some(root),
      targetBucketBytes = 4096)
    assert(re.nBuckets == st.nBuckets)
    assert(graft.streaming.Streams.st14Serve(re, terms, 5)
      .collect().map(_.toSeq).toSeq == got)
  }

  test("st13 re-buckets at compaction under a tiny target: groups " +
      "unchanged, resumed root keeps the grown count") {
    import SparkSpec.spark.implicits._
    val corpus = st13Corpus
    def frame(ids: Long*) =
      ids.map(i => i -> corpus(i)).toDF("doc_id", "text")
    val root = graft.Staging.scratch("st13_rebucket_spec")
    val st = StateTable.open(spark, st13Family, Some(root),
      targetBucketBytes = 1024)
    val ids = corpus.keys.toSeq.sorted
    val (w1, w2) = ids.splitAt(ids.length / 2)
    graft.streaming.Streams.st13MaintainStep(st, frame(w1: _*), 0.35)
    graft.streaming.Streams.st13MaintainStep(st, frame(w2: _*), 0.35)
    assert(st.nBuckets == 16)
    st.compact()
    assert(st.nBuckets > 16, s"tiny target should grow buckets: ${st.nBuckets}")
    // post-re-bucket probes still verify and the registry still
    // reproduces batch CC over the same corpus
    val extra = Seq(9001L -> corpus(ids.head)).toDF("doc_id", "text")
    graft.streaming.Streams.st13MaintainStep(st, extra, 0.35)
    val got = graft.streaming.Streams.st13Compact(st)
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.Dedup.dedupGroupsFrom(
      frame(ids: _*).unionByName(extra), 0.35)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
    // a reopened root resumes the grown count
    val re = StateTable.open(spark, st13Family, Some(root),
      targetBucketBytes = 1024)
    assert(re.nBuckets == st.nBuckets)
  }

  test("batch atomicity: a PARTIALLY-failed st14 batch is wiped and " +
      "reprocessed on retry; a committed batch id is a no-op") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma",
      3L -> "beta delta", 4L -> "gamma gamma alpha").toDF("doc_id", "text")
    val clean = StateTable.open(spark, st14Family)
    val crashed = StateTable.open(spark, st14Family)
    graft.streaming.Streams.st14MaintainStep(clean, docs, bid = 0L)
    // simulate the failure the review flagged: batch 0's POSTINGS
    // landed but its doclen marker and stats never did (the appends
    // used to race as unordered Futures) — under the old anti-join
    // guard alone this batch's postings would stay orphaned forever
    // or double on retry
    val partial = docs.filter(col("doc_id").isin(1L, 2L))
      .select(col("doc_id"),
        explode(graft.functions.Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("pb", pmod(hash(col("term")), lit(16)).cast("int"))
    // a real step writes the attempt marker BEFORE its first append
    // (the O(1)-wipe contract: only a marked attempt pays the walk)
    graft.streaming.Streams.markAttempt(crashed.root, 0L)
    graft.streaming.Streams.appendTagged(partial, crashed.dir("postings"),
      0L, Some("pb"))
    assert(spark.read.parquet(crashed.dir("postings")).count() > 0)
    // the retry (same stable streaming bid) wipes the remnants and
    // reprocesses the WHOLE batch — state equals the clean run
    graft.streaming.Streams.st14MaintainStep(crashed, docs, bid = 0L)
    def served(st: StateTable) =
      graft.streaming.Streams.st14Serve(st, Seq("alpha", "beta"), 5)
        .collect().map(_.toSeq).toSeq
    assert(served(crashed) == served(clean))
    assert(spark.read.parquet(crashed.dir("postings")).count() ==
      spark.read.parquet(clean.dir("postings")).count())
    // a COMMITTED bid redelivered is the fast-path no-op
    val before = spark.read.parquet(crashed.dir("postings")).count()
    graft.streaming.Streams.st14MaintainStep(crashed, docs, bid = 0L)
    assert(spark.read.parquet(crashed.dir("postings")).count() == before)
    // open-time recovery: a fresh-bid partial attempt (facade crash)
    // is wiped at the next state open because it never committed
    graft.streaming.Streams.appendTagged(partial, crashed.dir("postings"),
      77L, Some("pb"))
    val reopened = StateTable.open(spark, st14Family,
      root = Some(crashed.root))
    assert(spark.read.parquet(reopened.dir("postings")).count() == before)
  }

  test("batch atomicity for st15: a committed bid delivered again does " +
      "nothing, and a bid with an attempt marker wipes its gb<bid>- " +
      "leftovers before landing again") {
    val spark = SparkSpec.spark
    val t = Tables(spark, sf)
    val cb = graft.operators.Ann.assignedVecs(t, 16)._2
    val vecs = t.embeddings.limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val clean = StateTable.open(spark, st15Family)
    val crashed = StateTable.open(spark, st15Family)
    graft.streaming.Streams.st15MaintainStep(clean, cb, vecs, bid = 0L)
    // a crashed attempt of bid 0: its marker and half its rows landed
    graft.streaming.Streams.markAttempt(crashed.root, 0L)
    graft.streaming.Streams.appendTagged(
      vecs.filter(col("vec_id") % 2 === 0)
        .withColumn("cid", graft.functions.Vectors.centroidTop1(col("v"), cb))
        .repartition(col("cid")),
      crashed.dir("vectors"), 0L, Some("cid"))
    def files(st: StateTable): Seq[String] =
      graft.Fs.listRec(st.dir("vectors"), ".parquet").map(_.path)
    val leftovers = files(crashed)
    assert(leftovers.nonEmpty && leftovers.forall(_.contains("/gb0-")))
    // the retry under the same bid wipes them, then lands the batch whole
    graft.streaming.Streams.st15MaintainStep(crashed, cb, vecs, bid = 0L)
    assert(!files(crashed).exists(leftovers.contains),
      "the retry kept the crashed attempt's files")
    def rows(st: StateTable) = spark.read.parquet(st.dir("vectors"))
      .select("vec_id", "cid").orderBy("vec_id").collect().toSeq
    assert(rows(crashed) == rows(clean))
    // the committed bid delivered again, with MORE rows, lands nothing
    val before = files(crashed)
    graft.streaming.Streams.st15MaintainStep(crashed, cb,
      t.embeddings.limit(60).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")), bid = 0L)
    assert(files(crashed) == before)
  }

  test("batch append: every table append settles before a failure " +
      "rethrows; a same-bid retry commits exactly one copy") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma",
      3L -> "beta delta", 4L -> "gamma gamma alpha").toDF("doc_id", "text")
    val clean = StateTable.open(spark, st14Family)
    graft.streaming.Streams.st14MaintainStep(clean, docs, bid = 0L)
    val st = StateTable.open(spark, st14Family)
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // the postings append is slow; the stats append fails at once
    val slow = udf { (id: Long) => if (id == 2L) Thread.sleep(1000); id }
    val boom = udf { (n: Long) =>
      if (n >= 0L) throw new IllegalStateException("injected append failure")
      n
    }
    val e = intercept[Exception] {
      st.appendBatch(0L) {
        (Seq(
          "postings" -> tf.withColumn("doc_id", slow(col("doc_id"))),
          "stats" -> Seq((4L, 10L)).toDF("nd", "len_sum")
            .withColumn("nd", boom(col("nd")))), Nil)
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected")), e)
    // the slow sibling had LANDED when the step threw — it did not
    // outlive the call to race the retry's wipe
    assert(graft.Fs.listRec(st.dir("postings"), ".parquet")
      .exists(_.name.startsWith("gb0-")),
      "the step rethrew while a sibling append was still running")
    assert(!graft.streaming.Streams.batchCommitted(st.root, 0L))
    // the facade's allocator hands the retry the SAME bid
    assert(graft.streaming.Streams.nextBatchId(st.root) == 0L)
    graft.streaming.Streams.st14MaintainStep(st, docs, bid = 0L)
    assert(spark.read.parquet(st.dir("postings")).count() ==
      spark.read.parquet(clean.dir("postings")).count())
    assert(spark.read.parquet(st.dir("stats")).agg(sum("nd"))
      .collect()(0).getLong(0) == 4L)
    def served(s: StateTable) =
      graft.streaming.Streams.st14Serve(s, Seq("alpha", "beta"), 5)
        .collect().map(_.toSeq).toSeq
    assert(served(st) == served(clean))
  }

  test("state rewrites publish through the root's own TableLog: a " +
      "torn rewrite (staged generation, no commit) is invisible and " +
      "swept at open; a committed rewrite flips every table AND the " +
      "bucket count as one tagged unit") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma",
      3L -> "beta delta", 4L -> "gamma gamma alpha").toDF("doc_id", "text")
    val st = StateTable.open(spark, st14Family)
    graft.streaming.Streams.st14MaintainStep(st, docs, bid = 0L)
    val servedBefore = graft.streaming.Streams
      .st14Serve(st, Seq("alpha", "beta"), 5).collect().map(_.toSeq).toSeq
    // TORN rewrite: a staged generation dir exists (a verbatim copy
    // of the live table), the process died before the commit — at
    // reopen the generation must be invisible (resolution ignores
    // it), swept from disk, and the count unchanged
    def copyTree(src: String, dst: String): Unit = {
      val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
      val walk = java.nio.file.Files.walk(s)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.foreach { p =>
          val t = d.resolve(s.relativize(p).toString)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else java.nio.file.Files.copy(p, t)
          ()
        }
      } finally walk.close()
    }
    copyTree(st.dir("postings"), s"${st.root}/postings.g99")
    val re = StateTable.open(spark, st14Family,
      root = Some(st.root))
    assert(re.dir("postings") == s"${st.root}/postings",
      "torn generation leaked into resolution")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${st.root}/postings.g99")),
      "torn generation not swept")
    assert(re.nBuckets == st.nBuckets)
    assert(graft.streaming.Streams
      .st14Serve(re, Seq("alpha", "beta"), 5).collect().map(_.toSeq).toSeq
      == servedBefore)
    // COMMITTED rewrite: the real compaction — every table flips to
    // its new generation and the re-derived bucket count rides the
    // commit TAG, so (tables, count) change as one atomic unit a
    // fresh open re-derives from the log alone
    re.compact()
    assert(re.dir("postings").matches(".*/postings\\.g\\d+"),
      s"compaction did not flip the generation: ${re.dir("postings")}")
    val log = graft.streaming.Streams.stateLog(st.root)
    val head = log.latestVersion.get
    assert(log.tagOf(head).contains(s"nb=${re.nBuckets}"),
      "bucket count does not ride the rewrite tag")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${st.root}/postings")),
      "superseded plain table dir survived the flip")
    val re2 = StateTable.open(spark, st14Family,
      root = Some(st.root))
    assert(re2.dir("postings") == re.dir("postings"))
    assert(re2.nBuckets == re.nBuckets)
    assert(graft.streaming.Streams
      .st14Serve(re2, Seq("alpha", "beta"), 5).collect().map(_.toSeq).toSeq
      == servedBefore)
  }

  test("a copied state root keeps its committed generations, and " +
      "stepping + compacting the copy never touches the original") {
    import SparkSpec.spark.implicits._
    import scala.jdk.CollectionConverters._
    val spark = SparkSpec.spark
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma",
      3L -> "beta delta", 4L -> "gamma gamma alpha").toDF("doc_id", "text")
    val st = StateTable.open(spark, st14Family)
    graft.streaming.Streams.st14MaintainStep(st, docs, bid = 0L)
    st.compact()
    assert(st.dir("postings").matches(".*/postings\\.g\\d+"))
    def served(s: StateTable) = graft.streaming.Streams
      .st14Serve(s, Seq("alpha", "beta"), 5).collect().map(_.toSeq).toSeq
    val servedBefore = served(st)
    /** Every file under `root`: relative path -> (size, mtime). */
    def listing(root: String): Map[String, (Long, Long)] = {
      val r = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(r)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => r.relativize(f).toString ->
          (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally walk.close()
    }
    val original = listing(st.root)
    val copyRoot = graft.Staging.scratch("st14_relocated")
    val src = java.nio.file.Paths.get(st.root)
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = java.nio.file.Paths.get(copyRoot).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
      ()
    } finally walk.close()
    val cp = StateTable.open(spark, st14Family, root = Some(copyRoot))
    assert(cp.dir("postings") ==
      st.dir("postings").replace(st.root, copyRoot.stripSuffix("/")),
      s"the copy resolved ${cp.dir("postings")}")
    assert(listing(copyRoot).keySet == original.keySet,
      "opening the copy swept committed files")
    assert(served(cp) == servedBefore)
    graft.streaming.Streams.st14MaintainStep(cp,
      Seq(5L -> "alpha delta").toDF("doc_id", "text"), bid = 1L)
    cp.compact()
    assert(cp.dir("postings").startsWith(copyRoot.stripSuffix("/") + "/"))
    assert(served(cp) != servedBefore, "the copy's step did not land")
    assert(listing(st.root) == original,
      "stepping and compacting the copy changed the original root")
    assert(served(StateTable.open(spark, st14Family, root = Some(st.root))) ==
      servedBefore)
  }

  test("annIndexMaintenance resume serves under the PERSISTED codebook " +
      "even when the training frame drifted") {
    val spark = SparkSpec.spark
    val root = graft.Staging.scratch("st15_resume_model")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val s1 = graft.api.Graft.annIndexMaintenance(spark, vecs, "vec_id",
      "embedding", stateRoot = Some(root))
    s1.step(vecs)
    val q = vecs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val r1 = s1.search(q, k = 5).collect().map(_.toSeq).toSeq
    // session 2 resumes the root with a DRIFTED training frame (half
    // the rows — ivfConfigFor would pick a different list count and
    // hash-sampled training would pick different centroids): the
    // persisted model must win, so list count and served results are
    // unchanged
    val drifted = vecs.filter(col("vec_id") % 2 === 0)
    val s2 = graft.api.Graft.annIndexMaintenance(spark, drifted,
      "vec_id", "embedding", stateRoot = Some(root))
    assert(s2.listCount == s1.listCount)
    val r2 = s2.search(q, k = 5).collect().map(_.toSeq).toSeq
    assert(r2 == r1)
  }

  test("maintain steps are idempotent under at-least-once redelivery " +
      "(st13 groups, st14 index, st15 lists unchanged)") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    // st14: redeliver wave 1 between waves — index and stats unchanged
    val docs = Seq(
      1L -> "alpha beta alpha", 2L -> "alpha gamma",
      3L -> "beta delta", 4L -> "gamma gamma alpha").toDF("doc_id", "text")
    val once = StateTable.open(spark, st14Family)
    val twice = StateTable.open(spark, st14Family)
    def wave(st: StateTable, ids: Seq[Long]): Unit =
      graft.streaming.Streams.st14MaintainStep(st,
        docs.filter(col("doc_id").isin(ids: _*)))
    wave(once, Seq(1L, 2L)); wave(once, Seq(3L, 4L))
    wave(twice, Seq(1L, 2L)); wave(twice, Seq(1L, 2L)) // retry
    wave(twice, Seq(3L, 4L)); wave(twice, Seq(3L, 4L)) // retry
    val serveT = Seq("alpha", "beta")
    def served(st: StateTable) =
      graft.streaming.Streams.st14Serve(st, serveT, 5)
        .collect().map(_.toSeq).toSeq
    assert(served(twice).nonEmpty && served(twice) == served(once))
    // nd must equal the doc count with rows, not the delivery count
    val nd = spark.read.parquet(twice.dir("stats"))
      .agg(sum("nd")).collect()(0).getLong(0)
    assert(nd == 4L, s"stats double-counted: nd=$nd")
    assert(spark.read.parquet(twice.dir("postings")).count() ==
      spark.read.parquet(once.dir("postings")).count())
    // st13: a redelivered wave adds no registry rows and no groups
    val corpus = st13Corpus
    def frame(ids: Long*) = ids.map(i => i -> corpus(i)).toDF("doc_id", "text")
    val ids = corpus.keys.toSeq.sorted
    val (w1, w2) = ids.splitAt(ids.length / 2)
    val st13a = StateTable.open(spark, st13Family)
    val st13b = StateTable.open(spark, st13Family)
    graft.streaming.Streams.st13MaintainStep(st13a, frame(w1: _*), 0.35)
    graft.streaming.Streams.st13MaintainStep(st13a, frame(w2: _*), 0.35)
    graft.streaming.Streams.st13MaintainStep(st13b, frame(w1: _*), 0.35)
    graft.streaming.Streams.st13MaintainStep(st13b, frame(w1: _*), 0.35)
    graft.streaming.Streams.st13MaintainStep(st13b, frame(w2: _*), 0.35)
    assert(spark.read.parquet(st13b.dir("sh")).count() ==
      spark.read.parquet(st13a.dir("sh")).count())
    assert(graft.streaming.Streams.st13Compact(st13b)
      .collect().map(_.toSeq).toSeq ==
      graft.streaming.Streams.st13Compact(st13a)
        .collect().map(_.toSeq).toSeq)
    // st15: a redelivered vector batch appends nothing
    val t = Tables(spark, sf)
    val cb = graft.operators.Ann.assignedVecs(t, 16)._2
    val vecs = t.embeddings.limit(40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val st15 = StateTable.open(spark, st15Family)
    graft.streaming.Streams.st15MaintainStep(st15, cb, vecs)
    val n1 = spark.read.parquet(st15.dir("vectors")).count()
    graft.streaming.Streams.st15MaintainStep(st15, cb, vecs) // retry
    assert(spark.read.parquet(st15.dir("vectors")).count() == n1)
  }

  test("s11 exact refinement: rerank recall against in-list exact " +
      "ground truth is at least the pure-ADC path's") {
    val t = Tables(spark, sf)
    val (assigned, cb) = graft.operators.Ann.assignedVecs(t, 16)
    val probe = assigned.filter(col("vec_id") === 0L)
      .select(col("v"),
        slice(graft.functions.Vectors.centroidRanks(col("v"), cb), 1, 2)
          .as("pls"))
      .collect()(0)
    val pv = probe.getSeq[Double](0)
    val pls = probe.getSeq[Int](1)
    // ground truth for the ADMITTED lists (both towers prune the same
    // lists — the rerank's win is in-list ordering): exact L2² top-10
    val pp = pv.foldLeft(0.0)((a, x) => a + x * x)
    val ground = assigned.filter(col("cid").isin(pls: _*))
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        (graft.functions.Vectors.dot(col("v"), col("v")) -
          lit(2.0) * graft.functions.Vectors.dot(col("v"), typedLit(pv)) +
          lit(pp)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val adcIds = run("s9_ivfpq_search").collect().map(_.getLong(0)).toSet
    val rrIds = run("s11_ivfpq_rerank").collect().map(_.getLong(0)).toSet
    val adcHits = (adcIds & ground).size
    val rrHits = (rrIds & ground).size
    assert(rrHits >= adcHits,
      s"refinement lost recall: rerank $rrHits vs adc $adcHits of 10")
    // the re-scored shortlist must recover neighbors the coarse codes
    // misranked — on this corpus the 4× over-fetch recovers them all
    assert(rrHits == 10, s"rerank recall $rrHits/10")
  }

  test("s10 residual PQ: mean quantization error strictly below the " +
      "raw-vector model's at the same code budget") {
    val raw = run("s5_pq_encode")
      .agg(avg("qerr")).collect()(0).getDouble(0)
    val res = run("s10_pq_residual")
      .agg(avg("qerr")).collect()(0).getDouble(0)
    assert(res < raw,
      s"residual model did not reduce qerr: residual $res vs raw $raw")
  }

  test("s12 SQ8 encode: 64 in-range codes per vector and qerr bounded " +
      "by the bucket geometry") {
    val enc = run("s12_sq_encode").collect()
    assert(enc.length == 500)
    // every vector compresses to exactly dim codes, each one byte
    enc.foreach { r =>
      val codes = r.getAs[String]("codes").split("-").map(_.toInt)
      assert(codes.length == 64)
      assert(codes.forall(c => c >= 0 && c <= 255))
    }
    // bucket-center reconstruction error per dim is at most half a
    // bucket squared (min/max are corpus-true, so no clamping error)
    val (_, scales) = graft.operators.Ann.sqModel(graft.Tables(spark, sf))
    val bound = scales.map(s => (s / 2) * (s / 2)).sum + 1e-9
    enc.foreach { r =>
      val q = r.getAs[Double]("qerr")
      assert(q >= 0.0 && q <= bound, s"qerr $q outside [0, $bound]")
    }
  }

  test("s15 per-list SQ: mean quantization error strictly below the " +
      "corpus-global model's at the same byte budget; codes in range") {
    val global = run("s12_sq_encode")
      .agg(avg("qerr")).collect()(0).getDouble(0)
    val perList = run("s15_sq_perlist")
      .agg(avg("qerr")).collect()(0).getDouble(0)
    assert(perList < global,
      s"per-list ranges did not reduce qerr: $perList vs global $global")
    // same byte budget: exactly dim one-byte codes per vector
    run("s15_sq_perlist").collect().foreach { r =>
      val codes = r.getAs[String]("codes").split("-").map(_.toInt)
      assert(codes.length == 64 && codes.forall(c => c >= 0 && c <= 255))
    }
  }

  test("s16 per-list IVF-SQ serving: quantization preserves the " +
      "in-pool exact top-10; estimates tighter than the global " +
      "model's") {
    val sq = run("s16_ivfsq_perlist_search").collect()
    assert(sq.length == 10)
    val ds = sq.map(_.getAs[Double]("d_est"))
    assert(ds.sliding(2).forall { case Array(a, b) => a <= b })
    // ground truth = exact L2² over the SAME pruned candidate pool,
    // computed independently in Scala (codebook ranking + pool
    // restriction + distance all re-derived outside the fused
    // column pipeline): the per-list quantization must not move the
    // top-10 SET
    val t0 = Tables(spark, sf)
    val (assigned2, _) = graft.operators.Ann.assignedVecs(t0, 16)
    val rows = assigned2.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    val qv = rows.find(_._1 == 0L).get._2
    val cb2 = graft.operators.Ann.assignedVecs(t0, 16)._2
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val cents = (0 until 16).map(ci =>
      cb2.values.slice(ci * 64, ci * 64 + 64).toSeq)
    val pls = cents.zipWithIndex
      .sortBy { case (c, ci) => (-cos(qv, c), ci) }.take(2)
      .map(_._2).toSet
    val pool = rows.filter(r => pls.contains(r._3) && r._1 != 0L)
    val exactTop = pool.map { case (id, v, _) =>
      (id, v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val ids = sq.map(_.getLong(0)).toSet
    assert(ids == exactTop,
      s"per-list quantization moved the in-pool top-10: " +
        s"missing ${(exactTop -- ids).toSeq.sorted}, " +
        s"extra ${(ids -- exactTop).toSeq.sorted}")
    // both models' serving must stay CLOSE to exact in distance
    // space: pool-wide summed |d_est − d_exact| bounded well under
    // the pool's exact-distance spread. (The per-list model's
    // quality claim is pinned at the ENCODE level — s15's corpus-
    // mean qerr strictly below s12's; measured here, the DISTANCE-
    // error aggregate over one pool does NOT reliably order the two
    // models — the lever-arm cross terms dominate — so serving
    // asserts estimate fidelity, not cross-model ordering.)
    val t = Tables(spark, sf)
    val exactD = pool.map { case (id, v, _) =>
      id -> v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
    }.toMap
    val perListErr = graft.operators.Ann
      .s16IvfSqPerlistSearch(t, k = pool.length).collect()
      .map(r => math.abs(
        r.getAs[Double]("d_est") - exactD(r.getLong(0)))).sum
    val spread = exactD.values.max - exactD.values.min
    assert(perListErr < 0.05 * pool.length * spread,
      s"per-list estimates drift from exact: $perListErr over " +
        s"${pool.length} candidates (spread $spread)")
  }

  test("s13 SQ8 asymmetric search: recall@10 = 10/10 against the " +
      "exact brute-force tower") {
    val sq = run("s13_sq_search").collect().map(_.getLong(0)).toSet
    val ex = run("s1_ann_bruteforce").collect().map(_.getLong(0)).toSet
    assert(sq.size == 10 && ex.size == 10)
    assert((sq & ex).size == 10,
      s"SQ8 missed exact neighbors: ${(ex -- sq).toSeq.sorted}")
  }

  test("s14 IVF-SQ: pruning off reproduces the full SQ scan; pruned " +
      "serving stays within the probe's lists") {
    val t = Tables(spark, sf)
    // nProbe = nLists ⇒ no pruning ⇒ bit-identical to s13's full scan
    val full = graft.operators.Ann
      .s14IvfSqSearch(t, nLists = 16, nProbe = 16)
      .collect().map(_.toSeq).toSeq
    val flat = run("s13_sq_search").collect().map(_.toSeq).toSeq
    assert(full == flat, "unpruned IVF-SQ diverged from the flat scan")
    // the pruned form returns k rows in (d_est, vec_id) order
    val pruned = run("s14_ivfsq_search").collect()
    assert(pruned.length == 10)
    val ds = pruned.map(_.getAs[Double]("d_est"))
    assert(ds.sliding(2).forall { case Array(a, b) => a <= b })
  }

  test("s2 candidate-bounded cut: tauFor holds the expected bulk " +
      "admission flat as the corpus grows; sandbox cut unchanged") {
    import graft.operators.Ann.{tauFor, hammingCdf, defaultTau}
    val bits = 512; val target = 1024L
    // sandbox scale: the count bound is looser than the width bound —
    // the operator's derived cut (and its pinned oracle) unchanged
    assert(math.min(defaultTau(bits), tauFor(bits, 500L, target)) ==
      defaultTau(bits))
    // growth law: the cut TIGHTENS with n (constant count, shrinking
    // fraction) instead of admitting a constant ~10% of the corpus
    val t10k = tauFor(bits, 10000L, target)
    val t1m = tauFor(bits, 1000000L, target)
    val t100m = tauFor(bits, 100000000L, target)
    assert(t1m < t10k && t100m < t1m,
      s"cut not tightening: $t10k, $t1m, $t100m")
    // the bound is REAL at every scale: expected bulk admission ≤
    // target, and the cut is maximal (one more bit of slack breaks it)
    for (n <- Seq(10000L, 1000000L, 100000000L)) {
      val tau = tauFor(bits, n, target)
      assert(n * hammingCdf(bits, tau) <= target.toDouble)
      assert(n * hammingCdf(bits, tau + 1) > target.toDouble,
        s"cut not maximal at n=$n tau=$tau")
    }
  }

  test("st17 drift drill: the maintained-index recall gate degrades " +
      "under a serving codebook that drifted from the writer's") {
    val t = Tables(spark, sf)
    graft.Caches.fresh()
    val cb = graft.operators.Ann.assignedVecs(t, 16)._2
    val st = StateTable.open(spark, st15Family)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.streaming.Streams.st15MaintainStep(st, cb, vecs)
    def hits(serveCb: graft.expressions.PlaneMatrix): Long =
      graft.streaming.Streams.st17RecallFrom(st, serveCb, vecs, 8, 10, 2)
        .agg(sum("n_hit")).collect()(0).getLong(0)
    val pinned = hits(cb)
    // under the pinned codebook and exactly-once arrivals the
    // maintained gate measures EXACTLY what batch s8 measures
    val s8hits = run("s8_ann_recall")
      .agg(sum("n_hit")).collect()(0).getLong(0)
    assert(pinned == s8hits,
      s"maintained gate $pinned != batch s8 $s8hits")
    // drift = the model retrained on a DRIFTED corpus snapshot (a
    // third of the rows gone — different seeds, different centroids):
    // the "rebuilt the model against newer data, kept the old index"
    // mismatch the gate exists to catch
    val drifted = graft.operators.Ann.trainCodebook(
      vecs.filter(col("vec_id") % 3 =!= 0), 16)
    val driftedHits = hits(drifted)
    assert(driftedHits < pinned,
      s"gate blind to drift: pinned $pinned, drifted $driftedHits")
  }

  test("trainCodebook leaves a caller-owned cache in place") {
    val t = Tables(spark, sf)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val none = org.apache.spark.storage.StorageLevel.NONE
    // an UNCACHED input is persisted for the call and released after
    val want = graft.operators.Ann.trainCodebook(vecs, 16)
    assert(vecs.storageLevel == none)
    val cached = graft.Caches.materialized(vecs)
    try {
      assert(cached.storageLevel != none)
      val cb = graft.operators.Ann.trainCodebook(cached, 16)
      assert(cached.storageLevel != none,
        "trainCodebook unpersisted the caller's cache")
      assert(cb.values.sameElements(want.values))
    } finally graft.Caches.drop(cached)
  }

  test("st20 migration: drift-degraded recall is RESTORED by the v2 " +
      "cutover; serving gated before and after; old root vacuumed") {
    val t = Tables(spark, sf)
    graft.Caches.fresh()
    val parent = graft.Staging.scratch("st20_drill")
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // v1: index consistently encoded under the STALE model (trained
    // on a past snapshot — the drift drill's shape)
    val cbOld = graft.operators.Ann.trainCodebook(
      vecs.filter(col("vec_id") % 3 =!= 0), 16)
    val st1 = StateTable.open(spark, st15Family,
      Some(s"$parent/v1"))
    graft.streaming.Streams.saveCodebook(st1.root, cbOld)
    graft.streaming.Streams.st15MaintainStep(st1, cbOld, vecs)
    graft.Fs.writeAtomic(s"$parent/current.meta", "v1")
    // BEFORE: consistent serving under the old model equals an
    // independently-computed batch twin bit-for-bit
    val pv = vecs.filter(col("vec_id") === 0L)
      .collect()(0).getSeq[Double](1)
    val before = graft.streaming.Streams
      .st15Serve(st1, cbOld, pv, 2, 10, excludeId = Some(0L))
      .collect().map(_.toSeq).toSeq
    val twin = {
      val assigned = vecs.select(col("vec_id"), col("v"),
        element_at(graft.functions.Vectors.centroidRanks(col("v"), cbOld), 1)
          .as("cid"))
      val pls = assigned.filter(col("vec_id") === 0L)
        .select(explode(slice(
          graft.functions.Vectors.centroidRanks(col("v"), cbOld), 1, 2))
          .as("cid"))
        .collect().map(_.getInt(0)).toSeq
      assigned.filter(col("cid").isin(pls: _*))
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          round(graft.functions.Vectors.cosine(col("v"),
            typedLit(pv)), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10).collect().map(_.toSeq).toSeq
    }
    assert(before == twin,
      "pre-migration serving diverged from its batch twin")
    // the corpus drifted: the retrained (current full-corpus) model
    // degrades the gate against the v1-encoded index — st17's drill
    val cbNew = graft.operators.Ann.assignedVecs(t, 16)._2
    def hits(st: StateTable,
        cb: graft.expressions.PlaneMatrix): Long =
      graft.streaming.Streams.st17RecallFrom(st, cb, vecs, 8, 10, 2)
        .agg(sum("n_hit")).collect()(0).getLong(0)
    val consistent = hits(st1, cbOld)
    val drifted = hits(st1, cbNew)
    assert(drifted < consistent,
      s"gate blind to the drift: $drifted vs consistent $consistent")
    // MIGRATE: v2 root re-encoded under the new model, pointer flip
    graft.streaming.Streams.st20Migrate(spark, parent, "v2", cbNew)
    val (st2, cb2) = graft.streaming.Streams.st20Serving(spark, parent)
    assert(st2.root.endsWith("/v2"))
    assert(cb2.values.sameElements(cbNew.values),
      "migrated root serves a different codebook than it persisted")
    // RESTORED: the gate returns to batch s8's level (cbNew IS s8's
    // codebook and the re-encode was exactly-once over the corpus)
    val restored = hits(st2, cb2)
    assert(restored > drifted,
      s"migration did not restore recall: $restored vs drifted $drifted")
    val s8hits = run("s8_ann_recall")
      .agg(sum("n_hit")).collect()(0).getLong(0)
    assert(restored == s8hits,
      s"post-migration gate $restored != batch s8 $s8hits")
    // AFTER: serving equals batch s3 bit-for-bit (the DuckDB-gated
    // operator path serves the same)
    val after = graft.streaming.Streams
      .st15Serve(st2, cb2, pv, 2, 10, excludeId = Some(0L))
      .collect().map(_.toSeq).toSeq
    val s3 = run("s3_ann_ivf").collect().map(_.toSeq).toSeq
    assert(after == s3, "post-migration serving diverged from batch s3")
    // the old root's bytes are gone the moment the pointer moved
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/v1")),
      "old index root survived the migration vacuum")
    // crash-after-flip heal: the retired root lingers (crash between
    // pointer flip and vacuum, simulated) — a re-run with the SAME
    // target completes the cleanup instead of refusing
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$parent/v1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$parent/v1/stale.bin"), Array[Byte](1))
    graft.streaming.Streams.st20Migrate(spark, parent, "v2", cbNew)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/v1")),
      "re-run did not complete the crashed migration's vacuum")
    assert(graft.streaming.Streams.st20Serving(spark, parent)
      ._1.root.endsWith("/v2"))
  }

  test("legacy-root guard: annIndexMaintenance refuses to train a new " +
      "codebook over a root already holding vectors") {
    val spark = SparkSpec.spark
    val t = Tables(spark, sf)
    val root = graft.Staging.scratch("st15_legacy_root")
    val cb = graft.operators.Ann.assignedVecs(t, 16)._2
    val st = StateTable.open(spark, st15Family, Some(root))
    // vectors land under SOME codebook, but codebook.meta is never
    // written (a pre-upgrade root / hand-built layout)
    graft.streaming.Streams.st15MaintainStep(st, cb, t.embeddings.limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
    val vecs = t.embeddings.select(col("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      graft.api.Graft.annIndexMaintenance(spark, vecs, "vec_id",
        "embedding", stateRoot = Some(root))
    }
    assert(e.getMessage.contains("codebook.meta"))
  }

  test("commit markers retire at compaction: the commits dir stays " +
      "bounded, retired bids still answer committed, redelivery drops") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val docs = (1L to 24L).map(i => i -> s"tok$i alpha common")
      .toDF("doc_id", "text")
    // a tiny file budget forces compaction during the run, so marker
    // retirement actually fires
    val st = StateTable.open(spark, st14Family,
      compactAboveFiles = 4)
    (0 until 6).foreach { b =>
      graft.streaming.Streams.st14MaintainStep(st,
        docs.filter(col("doc_id") % 6 === b), bid = b.toLong)
    }
    val lw = graft.streaming.Streams.loadLowWater(st.root)
    assert(lw >= 0L, s"no retirement happened (low-water $lw)")
    // every marker file at-or-below the low-water mark is gone — the
    // dir holds only post-retirement batches, not one file per batch
    // forever
    val commits = java.nio.file.Paths.get(st.root, "commits")
    val leftover = {
      val s = java.nio.file.Files.list(commits)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toList
      } finally s.close()
    }
    assert(leftover.forall(n => n.drop(1).toLong > lw),
      s"markers at/below low-water $lw survive: $leftover")
    // retired bids answer committed from the one persisted int…
    assert(graft.streaming.Streams.batchCommitted(st.root, 0L))
    // …so a redelivery of a retired batch is still the fast no-op
    val before = spark.read.parquet(st.dir("postings")).count()
    graft.streaming.Streams.st14MaintainStep(st,
      docs.filter(col("doc_id") % 6 === 0), bid = 0L)
    assert(spark.read.parquet(st.dir("postings")).count() == before)
    // and the facade's id allocator never re-issues a retired id
    assert(graft.streaming.Streams.nextBatchId(st.root) > lw)
  }

  test("marker retirement stops at a commit GAP: an uncommitted " +
      "lower bid keeps its redelivery slot instead of being dropped") {
    val root = graft.Staging.scratch("st_retire_gap")
    // out-of-order history: 0 and 2 committed, 1 attempted but NOT
    // committed (the explicit-bid caller path retirement must respect)
    graft.streaming.Streams.commitBatch(root, 0L)
    graft.streaming.Streams.markAttempt(root, 1L)
    graft.streaming.Streams.commitBatch(root, 2L)
    graft.streaming.Streams.retireMarkers(root)
    // low-water advances only through the contiguous prefix: marking
    // 2 committed would claim 1 is too, silently dropping its redelivery
    assert(graft.streaming.Streams.loadLowWater(root) == 0L)
    assert(!graft.streaming.Streams.batchCommitted(root, 1L),
      "gap bid 1 reads as committed — its redelivery would be dropped")
    assert(graft.streaming.Streams.batchCommitted(root, 2L),
      "bid 2's marker was retired without low-water covering it")
    assert(graft.streaming.Streams.attemptExists(root, 1L),
      "the dangling attempt marker must survive (wipe-walk signal)")
    // the gap commits → the next retirement collapses everything
    graft.streaming.Streams.commitBatch(root, 1L)
    graft.streaming.Streams.retireMarkers(root)
    assert(graft.streaming.Streams.loadLowWater(root) == 2L)
    assert((0L to 2L).forall(
      graft.streaming.Streams.batchCommitted(root, _)))
  }

  test("epoch barrier: a durable root re-attached under a NEW query " +
      "epoch processes fresh bid 0 instead of dropping it") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val root = graft.Staging.scratch("st14_epoch_spec")
    val stA = StateTable.open(spark, st14Family, Some(root),
      epoch = Some("query-A"))
    graft.streaming.Streams.st14MaintainStep(stA,
      Seq(1L -> "alpha beta", 2L -> "alpha gamma").toDF("doc_id", "text"),
      bid = 0L)
    graft.streaming.Streams.st14MaintainStep(stA,
      Seq(3L -> "beta delta").toDF("doc_id", "text"), bid = 1L)
    assert(graft.streaming.Streams.batchCommitted(root, 0L))
    // a NEW query incarnation attaches (fresh checkpoint, ids restart
    // at 0): the barrier must clear the old namespace — without it,
    // bid 0 below would look committed and the batch would be DROPPED
    val stB = StateTable.open(spark, st14Family, Some(root),
      epoch = Some("query-B"))
    assert(!graft.streaming.Streams.batchCommitted(root, 0L),
      "old epoch's markers leaked into the new incarnation")
    graft.streaming.Streams.st14MaintainStep(stB,
      Seq(9L -> "alpha omega").toDF("doc_id", "text"), bid = 0L)
    val served = graft.streaming.Streams.st14Serve(stB, Seq("alpha"), 5)
      .collect().map(_.getLong(0)).toSet
    // the new batch landed AND the old incarnation's docs survived
    // the barrier's compaction fold
    assert(served.contains(9L), s"new-epoch batch dropped: $served")
    assert(served.contains(1L) && served.contains(2L),
      s"old-epoch state lost by the barrier: $served")
    // redelivery inside the SAME epoch is still the committed no-op
    val before = spark.read.parquet(stB.dir("postings")).count()
    graft.streaming.Streams.st14MaintainStep(stB,
      Seq(9L -> "alpha omega").toDF("doc_id", "text"), bid = 0L)
    assert(spark.read.parquet(stB.dir("postings")).count() == before)
    // same-epoch reopen skips the barrier (history kept)
    val stB2 = StateTable.open(spark, st14Family, Some(root),
      epoch = Some("query-B"))
    assert(graft.streaming.Streams.batchCommitted(stB2.root, 0L))
  }

  test("epoch ADOPTION over a pre-epoch root with batch history runs " +
      "the barrier too (legacy/upgrade path)") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val root = graft.Staging.scratch("st14_epoch_adopt")
    // history accumulates under the ANONYMOUS namespace (no epoch —
    // the facade path, or a root written before epochs existed)
    val legacy = StateTable.open(spark, st14Family, Some(root))
    graft.streaming.Streams.st14MaintainStep(legacy,
      Seq(1L -> "alpha beta").toDF("doc_id", "text"), bid = 0L)
    assert(graft.streaming.Streams.batchCommitted(root, 0L))
    // first epoch-bearing attach: adopting the epoch WITHOUT the
    // barrier would leave the new query's bid 0 looking committed
    val adopted = StateTable.open(spark, st14Family, Some(root),
      epoch = Some("q-new"))
    assert(!graft.streaming.Streams.batchCommitted(root, 0L),
      "pre-epoch markers leaked into the adopted namespace")
    graft.streaming.Streams.st14MaintainStep(adopted,
      Seq(7L -> "alpha omega").toDF("doc_id", "text"), bid = 0L)
    val served = graft.streaming.Streams.st14Serve(adopted,
      Seq("alpha"), 5).collect().map(_.getLong(0)).toSet
    assert(served == Set(1L, 7L),
      s"adoption dropped the new batch or lost history: $served")
  }

  test("rewrite-commit crash recovery: a crash AFTER the commit but " +
      "before the sweep leaves superseded dirs that reopen invisible " +
      "and swept; the committed generation serves") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val root = graft.Staging.scratch("st14_crash_spec")
    val docs = Seq(1L -> "alpha beta", 2L -> "alpha gamma")
      .toDF("doc_id", "text")
    val st = StateTable.open(spark, st14Family, Some(root))
    graft.streaming.Streams.st14MaintainStep(st, docs)
    val want = graft.streaming.Streams.st14Serve(st, Seq("alpha"), 5)
      .collect().map(_.toSeq).toSeq
    st.compact()
    // simulate the crash window: a superseded plain dir REAPPEARS
    // beside the committed generation (as if the post-commit sweep
    // never ran) — it must not shadow the resolved generation, and
    // the reopen sweeps it
    val stale = java.nio.file.Paths.get(s"$root/postings")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.write(stale.resolve("junk.parquet"),
      Array[Byte](1, 2, 3))
    val re = StateTable.open(spark, st14Family, Some(root))
    assert(re.dir("postings").matches(".*/postings\\.g\\d+"),
      s"stale plain dir shadowed the committed generation: " +
        s"${re.dir("postings")}")
    assert(!java.nio.file.Files.exists(stale), "stale dir not swept")
    assert(graft.streaming.Streams.st14Serve(re, Seq("alpha"), 5)
      .collect().map(_.toSeq).toSeq == want)
  }
}
