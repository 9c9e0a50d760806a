package graft.tools

import org.apache.spark.sql.functions._

/** Scale-up measurement harness (SURVEY §5 tables): replicates the
  * sf0.1 documents 10× with DISJOINT per-copy vocabularies (every
  * token suffixed with its copy index), so candidate structure and
  * true near-dup pairs replicate exactly — the output-explosion
  * confound of naive replication is removed and the measured curve
  * is the operator's own scaling.
  *
  * Usage: `sbt "runMain graft.tools.Probe d6 [copies]"` (which probe,
  * replication factor — default 10; pass 100 for the 100× question).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val full = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "source", "lang", "text")
    val docs = full.select("doc_id", "text")

    def replicated(copies: Int) =
      (0 until copies).map { c =>
        docs.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"$$1x$c").as("text"))
      }.reduce(_ unionAll _)

    // marker-preserving variant for the CURATION probes: the t1/t2
    // language/quality signals are marker-word ratios, so the per-copy
    // vocabulary suffix must NOT touch marker words or every copy
    // fails the quality cut and the funnel measures an empty stream.
    // Cross-copy dup leakage needs 5 consecutive markers — reported
    // as rows if it ever happens, structurally ~zero here.
    def replicatedKeepMarkers(copies: Int) = {
      val keep = graft.operators.TextAnalysis.profiles
        .flatMap(_._2).distinct.mkString("|")
      (0 until copies).map { c =>
        docs.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          regexp_replace(col("text"),
            s"\\b(?!(?:$keep)\\b)([a-z0-9]+)\\b", s"$$1x$c").as("text"))
      }.reduce(_ unionAll _)
    }

    // full-schema variant: sources suffixed per copy (10× as many
    // shards of the same size — the way a real corpus grows), langs
    // kept (group count constant, per-group data 10× — the way a
    // sketch group grows)
    def replicatedFull(copies: Int) =
      (0 until copies).map { c =>
        full.select((col("doc_id") + lit(c * 1000000L)).as("doc_id"),
          concat(col("source"), lit(s"_$c")).as("source"),
          col("lang"),
          regexp_replace(col("text"), "([a-z0-9]+)", s"$$1x$c").as("text"))
      }.reduce(_ unionAll _)

    // vector replication for the embedding family: copy c multiplies
    // every dimension by a deterministic ±1 pattern (md5-derived).
    // Sign flips preserve norms and WITHIN-copy cosines exactly, so
    // true near-dup pairs replicate ×copies; CROSS-copy cosines
    // decorrelate (mean 0, std ~1/√dim ≈ 0.125 at dim 64 — threshold
    // 0.45 is ~3.6σ), so spurious cross-copy pairs stay rare. The
    // probe reports rows so any leakage is visible, not hidden.
    def signs(c: Int): Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"probe-signs:$c".getBytes("UTF-8"))
      Array.tabulate(64)(i =>
        if (((d(i >> 3) >> (7 - (i & 7))) & 1) == 1) 1.0 else -1.0)
    }
    lazy val vecsBase = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    def replicatedVecs(copies: Int) =
      (0 until copies).map { c =>
        vecsBase.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          zip_with(col("embedding"), lit(signs(c)),
            (x, y) => x * y).as("embedding"))
      }.reduce(_ unionAll _)

    // LEAK-FREE embedding replication (the xcos probe measured plain
    // sign flips leaking: max cross-copy cos 0.656, 875/4M pairs over
    // the 0.45 threshold — the ~3.6σ Gaussian argument does not hold
    // the tail at probe scale). Copy c sign-flips the base dims
    // (decorrelating buckets; within-copy geometry EXACT) and appends
    // a one-hot copy-tag dim of weight |x|: the 64-dim plane matrix
    // never sees the tag (HyperplaneBits dots min(len, dim) entries)
    // but the exact-cosine verify does, so within-copy cosines remap
    // affinely cos' = (cos+1)/2 — threshold 0.45 → 0.725 — while
    // cross-copy cosines are ≤ 0.5 < 0.725 BY CONSTRUCTION: zero
    // spurious pairs possible, the ≥-threshold pair set replicates
    // per copy exactly (mod the round-4 boundary and per-copy LSH
    // recall draws, which the probe reports as rows).
    val taggedThreshold = (0.45 + 1.0) / 2.0
    def replicatedTagged(base: org.apache.spark.sql.DataFrame,
        copies: Int) = {
      val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x))
      (0 until copies).map { c =>
        base.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
          concat(
            zip_with(col("embedding"), lit(signs(c)), (x, y) => x * y),
            array_repeat(lit(0.0), c), array(nrm),
            array_repeat(lit(0.0), copies - 1 - c)).as("embedding"))
      }.reduce(_ unionAll _)
    }
    def replicatedTaggedVecs(copies: Int) =
      replicatedTagged(vecsBase, copies)

    // production-regime corpus: plant a cos≈0.97 twin for every 10th
    // vector (deterministic ±1 perturbation, ε = 0.25·|x| spread over
    // 64 dims) — the near-dup profile (threshold ≥ 0.9, radius 0) the
    // operator documents as its deployment regime; the synthetic
    // corpus itself tops out at cos ~0.51 and cannot exercise it
    lazy val plantedBase = {
      val u = signs(777)
      val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x))
      vecsBase.unionAll(vecsBase.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(500000L)).as("vec_id"),
          zip_with(col("embedding"), lit(u),
            (x, s) => x + s * nrm * lit(0.03125)).as("embedding")))
    }

    // scan-cost witness for the serving probes: task input metrics
    // (records + bytes actually read) accumulated across the body's
    // jobs — wall time says "fast here", bytes-read says "reads only
    // what the layout promises" (the claim that survives a 100×)
    def measured[T](body: => T): (T, Long, Long) = {
      val recs = new java.util.concurrent.atomic.AtomicLong(0)
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) {
            recs.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
            bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
          }
      }
      spark.sparkContext.addSparkListener(lst)
      try {
        val r = body
        Thread.sleep(1500) // listener bus drains async
        (r, recs.get, bytes.get)
      } finally spark.sparkContext.removeSparkListener(lst)
    }

    // (path -> (size, mtime)) snapshot of every parquet file under a
    // dir — the rewritten-bytes witness both delete probes share (one
    // rule: _SUCCESS/.crc excluded from rewritten/total alike)
    def snapFiles(base: java.nio.file.Path): Map[String, (Long, Long)] =
      if (!java.nio.file.Files.exists(base)) Map.empty
      else {
        val st = java.nio.file.Files.walk(base)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.toString.endsWith(".parquet"))
          .map(p => base.relativize(p).toString ->
            (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap
        finally st.close()
      }

    def timed(tag: String, small: => Long, big: => Long): Unit = {
      val t0 = System.nanoTime
      val nS = small
      val sS = (System.nanoTime - t0) / 1e9
      val t1 = System.nanoTime
      val nB = big
      val sB = (System.nanoTime - t1) / 1e9
      println(f"PROBE $tag: 5k docs $sS%.1f s ($nS rows, cold JVM); " +
        f"${copies * 5}%dk docs $sB%.1f s ($nB rows, warm)")
    }

    args.headOption.getOrElse("d6") match {
      case "d6" => timed("d6",
        graft.operators.Dedup.dedupGroupsFrom(docs, 0.5).count(),
        graft.operators.Dedup.dedupGroupsFrom(replicated(copies), 0.5).count())
      // the CC registry under the ADVERSARIAL graph: one deep chain
      // of `copies`·5k nodes (diameter = corpus size — the worst
      // component shape a dedup corpus can produce) plus the measured
      // pointer-jump round count, pinning the O(log diameter) claim
      case "ccchain" =>
        def chain(n: Long) = {
          graft.Caches.fresh()
          val t0 = System.nanoTime()
          val edges = spark.range(0, n - 1)
            .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
          val groups = graft.operators.Dedup.ccGroups(edges,
            sorted = false)
          // one component, every node labeled with the root
          val ok = groups.agg(count(lit(1)),
            countDistinct(col("keep_doc"))).collect()(0)
          val s = (System.nanoTime() - t0) / 1e9
          (s, graft.operators.Dedup.lastCcRounds.get(),
            ok.getLong(0), ok.getLong(1))
        }
        val (sS, rS, nS, gS) = chain(5000L)
        val (sB, rB, nB, gB) = chain(copies * 5000L)
        println(f"PROBE ccchain: 5k-node chain $sS%.1f s, $rS rounds " +
          f"($nS nodes, $gS roots); ${copies * 5}%dk-node chain " +
          f"$sB%.1f s, $rB rounds ($nB nodes, $gB roots)")
      case "d7" => timed("d7",
        graft.operators.Dedup.decontaminateFrom(docs).count(),
        graft.operators.Dedup.decontaminateFrom(replicated(copies)).count())
      // the full curation funnel: one tokenize pass + filters + two
      // keyed dedup shuffles + the bench-broadcast decontamination —
      // the probe pins the whole composition's scaling, not a stage
      case "p1" => timed("p1",
        graft.operators.Pipeline.funnelFrom(docs, 0.35, 5, 97L)
          .collect().map(_.getAs[Long]("n_out")).sum,
        graft.operators.Pipeline
          .funnelFrom(replicated(copies), 0.35, 5, 97L)
          .collect().map(_.getAs[Long]("n_out")).sum)
      case "t6" => timed("t6",
        graft.operators.TextAnalysis.sequencePackFrom(full, 128).count(),
        graft.operators.TextAnalysis.sequencePackFrom(replicatedFull(copies), 128).count())
      case "q22" => timed("q22",
        graft.operators.Relational.cmsFreqFrom(full, 4, 1024).count(),
        graft.operators.Relational.cmsFreqFrom(replicatedFull(copies), 4, 1024).count())
      // the documented d8 hot-line hazard, planted: every doc is
      // prefixed with `hotK` copies of one boilerplate 8-token line,
      // so ~20-25% of ALL corpus lines are ONE key. The min-struct
      // aggregate partial-combines the hot key on the map side and
      // the verdict join is AQE-skew-splittable — the probe reports
      // wall at base and ×copies plus whether AQE actually split
      // (the "skewed" marker in the final plan's AQEShuffleRead).
      case "d8skew" =>
        val hotK = args.lift(2).map(_.toInt).getOrElse(4)
        val hotPrefix = (1 to hotK * 8).map(_ => "hot").mkString(" ")
        def runSkew(tag: String,
            d: org.apache.spark.sql.DataFrame): Long = {
          val skewed = d.select(col("doc_id"),
            concat(lit(hotPrefix + " "), col("text")).as("text"))
          val t = System.nanoTime
          val out = graft.operators.Dedup
            .lineDedupFrom(skewed, 8, sorted = false)
          val n = out.count()
          val s = (System.nanoTime - t) / 1e9
          val plan = out.queryExecution.executedPlan.toString
          val aqeSkew = plan.toLowerCase.contains("skew=true") ||
            plan.toLowerCase.contains("isskewjoin=true") ||
            plan.contains("skewed")
          plan.linesIterator.filter(l => l.contains("Join") ||
              l.toLowerCase.contains("skew"))
            .take(6).foreach(l => println(s"  [plan] ${l.trim.take(110)}"))
          val hotFrac = out.agg(
            sum(col("n_lines")).cast("double")).collect()(0).getDouble(0)
          println(f"PROBE d8skew [$tag] $s%.1f s ($n docs, " +
            f"${hotK / (hotFrac / n)}%.2f hot-line fraction est, " +
            s"aqe-skew-split=$aqeSkew)")
          n
        }
        runSkew("base", docs)
        runSkew(s"${copies}x", replicated(copies))
        // the mechanism itself, captured: at probe scale the verdict
        // side (distinct lines) BROADCASTS, so the hot key never even
        // shuffles — the skew hazard is structurally gone here. The
        // lake-scale regime (distinct lines past broadcast ⇒ SMJ with
        // one hot partition) is forced by disabling broadcast and
        // lowering the AQE thresholds to probe-scale bytes: the
        // verdict join must then SPLIT the hot partition (the knob
        // production relies on)
        // capture the SESSION'S prior values and restore them in one
        // finally around both forced legs — a throw mid-leg must not
        // leak probe-scale thresholds (or disabled broadcast) into
        // the rest of the JVM
        val conf = spark.conf
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.forceOptimizeSkewedJoin")
        val prior = keys.map(k => k -> conf.getOption(k)).toMap
        try {
          conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
          conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
          runSkew(s"${copies}x-smj-lowthresh", replicated(copies))
          // d8's verdict join feeds a doc-keyed reassembly shuffle,
          // so the default OptimizeSkewedJoin can decline (it avoids
          // introducing extra exchanges); force-mode shows whether
          // the isolated-join regime would split
          conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
          runSkew(s"${copies}x-smj-forced", replicated(copies))
        } finally keys.foreach { k =>
          prior(k) match {
            case Some(v) => conf.set(k, v)
            case None    => conf.unset(k)
          }
        }
      case "d8" => timed("d8",
        graft.operators.Dedup.lineDedupFrom(docs, 8).count(),
        graft.operators.Dedup.lineDedupFrom(replicated(copies), 8).count())
      case "d11" => timed("d11",
        graft.operators.Dedup.overlapScrubFrom(docs).count(),
        graft.operators.Dedup.overlapScrubFrom(replicated(copies)).count())
      case "t13" => timed("t13",
        graft.operators.TextAnalysis.perplexityFrom(docs, "doc_id", "text")
          .count(),
        graft.operators.TextAnalysis
          .perplexityFrom(replicated(copies), "doc_id", "text").count())
      // d5 = the gated default (Hamming-1 multi-probe, radius 1):
      // right for the synthetic low-cos regime, but its chance
      // collisions grow QUADRATICALLY in corpus size at fixed 16-bit
      // buckets — probe it at 10×, not 100×. d5r0 = the production
      // serving shape (exact collisions only): the 100× question.
      case "d5" => timed("d5",
        graft.operators.Dedup.embeddingPairsFrom(vecsBase, 0.45).count(),
        graft.operators.Dedup.embeddingPairsFrom(
          replicatedTaggedVecs(copies), taggedThreshold).count())
      case "d5r0" => timed("d5r0",
        graft.operators.Dedup
          .embeddingPairsFrom(vecsBase, 0.45, probeRadius = 0).count(),
        graft.operators.Dedup
          .embeddingPairsFrom(replicatedTaggedVecs(copies),
            taggedThreshold, probeRadius = 0).count())
      // keep-best = d6's CC evidence + a match-sized argmax window +
      // a corpus anti-join: the probe shows it scales as d6 does
      // (the window adds registry-sized work, not corpus-sized)
      case "d13" => timed("d13",
        graft.operators.Dedup.keepBestFrom(docs, 0.5).count(),
        graft.operators.Dedup.keepBestFrom(replicated(copies), 0.5)
          .count())
      // disjoint vocab ⇒ the duplicated-span registry replicates
      // exactly ×copies (no cross-copy spans) — wall should track the
      // span-stream scan, the registry join staying AQE-owned
      case "d14" => timed("d14",
        graft.operators.Dedup.selfrepScrubFrom(docs).count(),
        graft.operators.Dedup.selfrepScrubFrom(replicated(copies)).count())
      // langs kept per copy ⇒ target slice and vocab both grow
      // ×copies; the model joins must shift from broadcast toward
      // shuffle under AQE without a plan rewrite
      case "t18" => timed("t18",
        graft.operators.TextAnalysis
          .dsirSelectFrom(full, "doc_id", "lang", "text", "en").count(),
        graft.operators.TextAnalysis
          .dsirSelectFrom(replicatedFull(copies),
            "doc_id", "lang", "text", "en").count())
      // shuffle-shard holds shard SIZE constant as the corpus grows
      // (nShards scales with copies — the corpus_bytes/shard_bytes
      // contract), so the per-shard position sort never grows
      case "t15" => timed("t15",
        graft.operators.TextAnalysis
          .shuffleShardFrom(docs, "doc_id", 8, 7).count(),
        graft.operators.TextAnalysis
          .shuffleShardFrom(replicated(copies), "doc_id", 8 * copies, 7)
          .count())
      // ccnet buckets = t13's scored frame + two tertile constants:
      // the delta over t13 is a doc-level 1-row agg + projection
      case "t16" => timed("t16",
        graft.operators.TextAnalysis
          .ccnetBucketsFrom(docs, "doc_id", "text").count(),
        graft.operators.TextAnalysis
          .ccnetBucketsFrom(replicated(copies), "doc_id", "text").count())
      case "d2" => timed("d2",
        graft.api.Graft.jaccardPairs(docs, "doc_id", "text").count(),
        graft.api.Graft.jaccardPairs(replicated(copies), "doc_id", "text")
          .count())
      // incremental group maintenance driven wave-by-wave (4 id-range
      // waves — arrival order), then one compaction: measures the
      // whole maintain+compact machinery, output = d6's group rows.
      // PER-WAVE walls are printed separately: the "arrivals-only
      // work" claim says wave cost tracks BATCH size, not the
      // registry's growth wave over wave — a flat wave-1 → wave-4
      // line is that claim measured directly (the bucket-pruned
      // state probes are what keep wave N from paying a registry
      // that is N× wave-1's).
      case "st13" =>
        def runMaint(tag: String,
            docs: org.apache.spark.sql.DataFrame): Long = {
          graft.Caches.fresh()
          val st = graft.streaming.StateTable.open(spark,
            graft.streaming.Streams.st13Family)
          val mm = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
          val (lo, hi) = (mm.getLong(0), mm.getLong(1))
          val width = (hi - lo) / 4 + 1
          val waves = (0 until 4).map { w =>
            val t = System.nanoTime
            graft.streaming.Streams.st13MaintainStep(st,
              docs.filter(col("doc_id") >= lo + w * width &&
                col("doc_id") < lo + (w + 1) * width), 0.5)
            (System.nanoTime - t) / 1e9
          }
          val tC = System.nanoTime
          val n = graft.streaming.Streams.st13Compact(st).count()
          val sC = (System.nanoTime - tC) / 1e9
          println(f"PROBE st13 [$tag] per-wave s: " +
            waves.map(s => f"$s%.1f").mkString(" ") +
            f"; compaction $sC%.1f s (registry grows each wave; " +
            "arrivals-only cost => flat waves)")
          n
        }
        timed("st13", runMaint("base", docs),
          runMaint(s"${copies}x", replicated(copies)))
      // incremental search-index maintenance: 4 arrival waves, then a
      // BM25 query served from the maintained state. Per-wave walls
      // measure the arrivals-only claim (st13's); the SERVING wall
      // measures the pruned-read claim: the query touches its terms'
      // buckets (1/nB of an index that grew ×copies — nB is the
      // deployment dial, sized with the corpus), so serving must grow
      // far slower than the corpus.
      case "st14" =>
        def runIdx(tag: String, d: org.apache.spark.sql.DataFrame,
            terms: Seq[String]): Long = {
          graft.Caches.fresh()
          // 256 KB bucket target: probe-scale stand-in for the 64 MB
          // production default, so the auto-sizing actually re-buckets
          // at this corpus size instead of idling at the floor
          val st = graft.streaming.StateTable.open(spark,
            graft.streaming.Streams.st14Family,
            targetBucketBytes = 256L << 10)
          val mm = d.agg(min("doc_id"), max("doc_id")).collect()(0)
          val (lo, hi) = (mm.getLong(0), mm.getLong(1))
          val width = (hi - lo) / 4 + 1
          val waves = (0 until 4).map { w =>
            val t = System.nanoTime
            graft.streaming.Streams.st14MaintainStep(st,
              d.filter(col("doc_id") >= lo + w * width &&
                col("doc_id") < lo + (w + 1) * width))
            (System.nanoTime - t) / 1e9
          }
          def serveM() = {
            val ((hits, wall), recs, bytes) = measured {
              val t = System.nanoTime
              val h = graft.streaming.Streams.st14Serve(st, terms, 5).count()
              (h, (System.nanoTime - t) / 1e9)
            }
            (hits, recs, bytes, wall)
          }
          val (h0, r0, b0, s0) = serveM() // appended (unsorted) layout
          // scale-model row groups: production keeps the default
          // 128 MB groups inside multi-GB buckets (~dozens of groups
          // per bucket); the probe's ~256 KB buckets get the same
          // groups-per-bucket ratio via a 32 KB group size, so the
          // within-bucket row-group pruning the sort buys is measured
          // at proportionate geometry
          val hc = spark.sparkContext.hadoopConfiguration
          hc.setInt("parquet.block.size", 32 * 1024)
          hc.setInt("parquet.page.size", 8 * 1024)
          val tC = System.nanoTime
          st.compact()
          val sC = (System.nanoTime - tC) / 1e9
          hc.unset("parquet.block.size")
          hc.unset("parquet.page.size")
          val (h1, r1, b1, s1) = serveM() // sorted auto-bucketed layout
          val postings = spark.read.parquet(st.dir("postings")).count()
          println(f"PROBE st14 [$tag] per-wave s: " +
            waves.map(s => f"$s%.1f").mkString(" ") +
            f"; serve(appended) $s0%.2f s ($h0 hits, $r0 rows, " +
            f"${b0 / 1024}%d KiB read); compact $sC%.1f s -> " +
            f"nBuckets ${st.nBuckets}; serve(sorted) $s1%.2f s " +
            f"($h1 hits, $r1 rows, ${b1 / 1024}%d KiB read); " +
            f"$postings postings")
          postings
        }
        // the replicated corpus suffixes every token per copy, so the
        // query probes copy 0's image of the standard term list —
        // present at both scales, posting lists the same size
        timed("st14",
          runIdx("base", docs, graft.operators.Search.queryTerms),
          runIdx(s"${copies}x", replicated(copies),
            graft.operators.Search.queryTerms.map(_ + "x0")))
      // incremental IVF maintenance: codebook trained offline (its
      // wall reported separately — the versioned-model contract),
      // then 4 arrival waves of compiled-projection assignment +
      // list-partitioned appends, then a served query reading only
      // its nProbe lists. Serving must stay flat as the index grows.
      case "st15" =>
        def runAnn(tag: String,
            d: org.apache.spark.sql.DataFrame): Long = {
          graft.Caches.fresh()
          val t0 = System.nanoTime
          val dd = d.cache()
          // nLists from the MEASURED corpus (ivfConfigFor's √n law)
          // and hash-sampled training (trainCodebookSampled's ~64
          // points/centroid): the probe runs under the exact config +
          // training path the library's facade picks, so both the
          // "serving stays flat" claim AND the offline-model cost are
          // measured on the bought path
          val nV = dd.count()
          val nLists = graft.operators.Ann.ivfConfigFor(nV)
          val cb = graft.operators.Ann.trainCodebookSampled(
            dd.select(col("vec_id"), col("embedding").as("v")), nLists, nV)
          val sT = (System.nanoTime - t0) / 1e9
          val st = graft.streaming.StateTable.open(spark,
            graft.streaming.Streams.st15Family)
          val waves = (0 until 4).map { w =>
            val t = System.nanoTime
            graft.streaming.Streams.st15MaintainStep(st, cb,
              dd.filter(col("vec_id") % 4 === w)
                .select(col("vec_id"), col("embedding").as("v")))
            (System.nanoTime - t) / 1e9
          }
          val qv = dd.filter(col("vec_id") === 0L)
            .collect()(0).getSeq[Double](1)
          val ((hits, sS), recs, bytes) = measured {
            val t = System.nanoTime
            val h = graft.streaming.Streams
              .st15Serve(st, cb, qv, 2, 10).count()
            (h, (System.nanoTime - t) / 1e9)
          }
          val n = spark.read.parquet(st.dir("vectors")).count()
          dd.unpersist()
          println(f"PROBE st15 [$tag] nLists $nLists; train $sT%.1f s; " +
            "per-wave s: " + waves.map(s => f"$s%.1f").mkString(" ") +
            f"; serve $sS%.2f s ($hits hits, $recs rows, " +
            f"${bytes / 1024}%d KiB read, $n vectors)")
          n
        }
        timed("st15", runAnn("base", vecsBase),
          runAnn(s"${copies}x", replicatedVecs(copies)))
      // the dense-tier recall-vs-bytes table (SURVEY §5): serve the
      // standard query through each quantization tier of the sf0.1
      // staged index, measuring wall, records/bytes actually read,
      // and recall@10 against the flat exact tower. Run AFTER the
      // towers staged (first call stages them; tier mints reported).
      case "p3tiers" =>
        val t = graft.Tables(spark, "/root/testdata/sf0.1")
        val d = graft.operators.Pipeline.ragRoot(t)
        val tbl = graft.operators.Pipeline.ragTablesAt(spark, d)
        val qU16 = graft.operators.Embed.u16Of(
          graft.operators.Search.queryTerms.mkString(" "))
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.getLong(0)).toSeq
        val flat = ids(tbl("enc_ivf").select(col("vec_id"),
            aggregate(zip_with(col("u16"), typedLit(qU16),
              (a, b) => a.cast("long") * b), lit(0L),
              (acc, x) => acc + x).as("iscore"))
          .orderBy(col("iscore").desc, col("vec_id")).limit(10))
        // mint the tier layouts outside the measured serves
        val tM0 = System.nanoTime
        graft.operators.Pipeline.ensureSqTier(spark, d)
        val sMintSq = (System.nanoTime - tM0) / 1e9
        val tM1 = System.nanoTime
        graft.operators.Pipeline.ensurePqTier(spark, d)
        val sMintPq = (System.nanoTime - tM1) / 1e9
        def tierRow(name: String, nProbe: Int,
            body: => org.apache.spark.sql.DataFrame): Unit = {
          val ((got, s), recs, bytes) = measured {
            val t0 = System.nanoTime
            val r = ids(body)
            (r, (System.nanoTime - t0) / 1e9)
          }
          val rec = got.toSet.intersect(flat.toSet).size / 10.0
          println(f"PROBE p3tiers $name nProbe=$nProbe%-3d: $s%.2f s, " +
            f"$recs recs, ${bytes / 1024}%d KiB read, recall@10 $rec%.2f")
        }
        // recall here is vs the FLAT (unpruned) exact ranking, so the
        // sweep separates the two losses: nProbe (coarse-list recall,
        // shared by every tier) and the tier's in-list code fidelity
        for (nP <- Seq(8, 32, 96)) {
          val snap = graft.operators.Pipeline.servedAt(spark, d)
          tierRow("int16 ", nP, graft.operators.Pipeline
            .denseTop(snap, qU16, 10, nP))
          tierRow("sq8   ", nP, graft.operators.Pipeline
            .denseTopSq8(snap, qU16, 10, nP))
          tierRow("pq    ", nP, graft.operators.Pipeline
            .denseTopPq(snap, qU16, 10, nP))
          tierRow("rerank", nP, graft.operators.Pipeline
            .denseTopRerank(snap, qU16, 10, nP, 4))
        }
        println(f"PROBE p3tiers mint: sq8 $sMintSq%.1f s, " +
          f"pq $sMintPq%.1f s")
      // p3 SERVING LATENCY vs nProbe at scale (the knob a deployment
      // actually turns): build a root on the replicated corpus, mint
      // the tiers once, then serve each tier at nProbe ∈ {2,8,16}
      // twice (cold plan + warm) with bytes-read witnesses — the
      // claim is that latency and bytes scale ~nProbe/nLists while
      // recall vs the root's own flat exact ranking climbs.
      case "p3nprobe" =>
        def runNp(tag: String,
            d0: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch(s"probe_p3np_$tag")
          d0.select(col("doc_id"), col("text").as("body"))
            .write.mode("overwrite").parquet(s"$root/routed")
          val tB = System.nanoTime
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100)
          val sB = (System.nanoTime - tB) / 1e9
          val tbl = graft.operators.Pipeline.ragTablesAt(spark, root)
          val cb = graft.streaming.Streams.loadCodebook(root).get
          val nLists = cb.values.length / cb.dim
          val qU16 = graft.operators.Embed.u16Of(
            graft.operators.Search.queryTerms.mkString(" "))
          graft.operators.Pipeline.ensureSqTier(spark, root)
          graft.operators.Pipeline.ensurePqTier(spark, root)
          def ids(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(_.getLong(0)).toSeq
          val flat = ids(tbl("enc_ivf").select(col("vec_id"),
              aggregate(zip_with(col("u16"), typedLit(qU16),
                (a, b) => a.cast("long") * b), lit(0L),
                (acc, x) => acc + x).as("iscore"))
            .orderBy(col("iscore").desc, col("vec_id")).limit(10))
          println(f"PROBE p3nprobe [$tag] root: build $sB%.1f s, " +
            f"nLists $nLists")
          def row(name: String, nP: Int,
              body: => org.apache.spark.sql.DataFrame): Unit = {
            val ((got, sCold), _, bytes) = measured {
              val t0 = System.nanoTime
              val r = ids(body)
              (r, (System.nanoTime - t0) / 1e9)
            }
            val t1 = System.nanoTime
            ids(body)
            val sWarm = (System.nanoTime - t1) / 1e9
            val rec = got.toSet.intersect(flat.toSet).size / 10.0
            println(f"PROBE p3nprobe [$tag] $name nProbe=$nP%-3d: " +
              f"cold $sCold%.2f s, warm $sWarm%.2f s, " +
              f"${bytes / 1024}%d KiB read, recall@10 $rec%.2f")
          }
          for (nP <- Seq(2, 8, 16)) {
            val snap = graft.operators.Pipeline.servedAt(spark, root)
            row("int16 ", nP, graft.operators.Pipeline
              .denseTop(snap, qU16, 10, nP))
            row("sq8   ", nP, graft.operators.Pipeline
              .denseTopSq8(snap, qU16, 10, nP))
            row("pq    ", nP, graft.operators.Pipeline
              .denseTopPq(snap, qU16, 10, nP))
          }
        }
        runNp("base", docs)
        runNp(s"${copies}x", replicated(copies))
      // streaming curation: 4 doc_id-ascending waves through st22's
      // four-destination sink (quality→lang→dedup→decontaminate +
      // registries + stats, all tag-committed), then a REDELIVERED
      // step — a pure four-log tag probe + no-op. Per-wave walls
      // measure the arrivals-only claim; the redelivery wall measures
      // the tag-index cost the txn watermark bounds.
      case "st22" =>
        def runCur(tag: String,
            d: org.apache.spark.sql.DataFrame): Long = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch("probe_st22")
          val roots = graft.streaming.Streams.St22Roots(root)
          val bench = graft.Caches.materialized(
            graft.operators.Pipeline.scoredProjection(d, 5)
              .filter(col("doc_id") % 97 === 0)
              .select(explode(col("sh")).as("s5")).distinct())
          val mm = d.agg(min("doc_id"), max("doc_id")).collect()(0)
          val (lo, hi) = (mm.getLong(0), mm.getLong(1))
          val width = (hi - lo) / 4 + 1
          val waves = (0 until 4).map { w =>
            val t = System.nanoTime
            graft.streaming.Streams.st22Step(spark, roots, bench,
              d.filter(col("doc_id") >= lo + w * width &&
                col("doc_id") < lo + (w + 1) * width), w.toLong)
            (System.nanoTime - t) / 1e9
          }
          val tR = System.nanoTime
          graft.streaming.Streams.st22Step(spark, roots, bench,
            d.limit(0), 3L)
          val sR = (System.nanoTime - tR) / 1e9
          val mainLog = graft.sources.TableLog.open(roots.main)
          val n = mainLog.read(spark,
            graft.streaming.Streams.st22MainSchema,
            mainLog.latestVersion.getOrElse(-1L)).count()
          println(f"PROBE st22 [$tag] per-wave s: " +
            waves.map(s => f"$s%.1f").mkString(" ") +
            f"; redelivered no-op $sR%.2f s; $n survivors")
          n
        }
        timed("st22", runCur("base", docs),
          runCur(s"${copies}x", replicatedKeepMarkers(copies)))
      // the DEEP-commit shape: many tiny batches through the same
      // sink, measuring per-wave wall by quartile (corpus-coupled
      // growth would show as a rising curve), the checkpoint count
      // the every-8 cadence lands, and the redelivered tag probe at
      // full depth (the txn watermark keeps it O(apps), not
      // O(batches ever))
      case "st22deep" =>
        val nWaves = args.lift(1).map(_.toInt).getOrElse(32)
        graft.Caches.fresh()
        val root = graft.Staging.scratch("probe_st22deep")
        val roots = graft.streaming.Streams.St22Roots(root)
        val bench = graft.Caches.materialized(
          graft.operators.Pipeline.scoredProjection(docs, 5)
            .filter(col("doc_id") % 97 === 0)
            .select(explode(col("sh")).as("s5")).distinct())
        val mm = docs.agg(min("doc_id"), max("doc_id")).collect()(0)
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val width = (hi - lo) / nWaves + 1
        val waves = (0 until nWaves).map { w =>
          val t = System.nanoTime
          graft.streaming.Streams.st22Step(spark, roots, bench,
            docs.filter(col("doc_id") >= lo + w * width &&
              col("doc_id") < lo + (w + 1) * width), w.toLong)
          (System.nanoTime - t) / 1e9
        }
        val q = waves.grouped(math.max(1, nWaves / 4)).toSeq
          .map(g => g.sum / g.size)
        val tR = System.nanoTime
        graft.streaming.Streams.st22Step(spark, roots, bench,
          docs.limit(0), (nWaves - 1).toLong)
        val sR = (System.nanoTime - tR) / 1e9
        val ckpts = Seq(roots.main, roots.stats, roots.md5s, roots.fps)
          .map(r => java.nio.file.Files.list(
              java.nio.file.Paths.get(r, "_log")).toArray
            .map(_.toString).count(_.endsWith(".checkpoint")))
        println(f"PROBE st22deep: $nWaves waves, quartile-mean s: " +
          q.map(s => f"$s%.2f").mkString(" ") +
          f"; redelivered no-op at depth $sR%.2f s; " +
          s"checkpoints per log ${ckpts.mkString("/")}")
      // s4 k-NN join off the shared banded index (fixed 16-bit bands —
      // the chance-collision-quadratic regime; compare s4x)
      case "s4" => timed("s4",
        graft.operators.Ann.knnJoinFrom(vecsBase, 3).count(),
        graft.operators.Ann.knnJoinFrom(replicatedTaggedVecs(copies), 3)
          .count())
      // the log-n DEPLOYMENT scaling for the embedding family: band
      // bits grow with log₂(copies) so per-bucket occupancy (and so
      // chance-collision count per vector) stays CONSTANT; the 4096
      // planes are re-cut into fewer, wider bands (no regeneration)
      case "s4x" =>
        val bits = 16 + (32 - Integer.numberOfLeadingZeros(copies - 1))
        val bands = math.min(256, 4096 / bits)
        timed(s"s4x(${bands}x$bits)",
          graft.operators.Ann.knnJoinFrom(vecsBase, 3).count(),
          graft.operators.Ann.knnJoinFrom(replicatedTaggedVecs(copies), 3,
            probeRadius = 1, nBands = bands, bandBits = bits).count())
      // the n^ρ law APPLIED instead of violated: band bits grow with
      // log₂(copies) (occupancy) AND table count grows ~copies^ρ
      // (ρ ≈ 0.575 at cos 0.5) — planes generated on demand from the
      // same md5 family (hpMatrixFor). Moderate-threshold LSH scaled
      // the way the theory says it must.
      case "d5n" =>
        val bits = 16 + (32 - Integer.numberOfLeadingZeros(copies - 1))
        val bands = math.max(256, (256 * math.pow(copies, 0.575)).toInt)
        timed(s"d5n(${bands}x$bits)",
          graft.operators.Dedup.embeddingPairsFrom(vecsBase, 0.45).count(),
          graft.operators.Dedup.embeddingPairsFrom(
            replicatedTaggedVecs(copies), taggedThreshold,
            probeRadius = 1, nBands = bands, bandBits = bits).count())
      case "d5x" =>
        val bits = 16 + (32 - Integer.numberOfLeadingZeros(copies - 1))
        val bands = math.min(256, 4096 / bits)
        timed(s"d5x(${bands}x$bits)",
          graft.operators.Dedup.embeddingPairsFrom(vecsBase, 0.45).count(),
          graft.operators.Dedup.embeddingPairsFrom(
            replicatedTaggedVecs(copies), taggedThreshold,
            probeRadius = 1, nBands = bands, bandBits = bits).count())
      // the PRODUCTION-REGIME 100× question: planted cos≈0.97 twins,
      // threshold 0.9, exact collisions only (radius 0), band bits
      // grown with log₂(copies) — per-bucket occupancy constant, true
      // pairs at p₁ ≈ 0.92 keep E[colliding bands] ≫ 1 at 23 bits, so
      // recall holds ~1.0 and output replicates ×copies. This is the
      // regime the d5/s4 scale claim rests on; d5x documents why the
      // MODERATE-threshold regime (0.45, p₁ ≈ 0.65) instead needs
      // more tables (the LSH n^ρ law), not wider bands.
      case "d5p" =>
        val bits = 16 + (32 - Integer.numberOfLeadingZeros(copies - 1))
        val bands = math.min(256, 4096 / bits)
        timed(s"d5p(${bands}x$bits,t=0.9,r0)",
          graft.operators.Dedup
            .embeddingPairsFrom(plantedBase, 0.9, probeRadius = 0).count(),
          graft.operators.Dedup.embeddingPairsFrom(
            replicatedTagged(plantedBase, copies), (0.9 + 1.0) / 2.0,
            probeRadius = 0, nBands = bands, bandBits = bits).count())
      // empirical check of the sign-flip replication's separation
      // claim: cross-copy cosines must stay below the 0.45 threshold
      // or the d5/s4 probes would leak spurious cross-copy pairs
      case "xcos" =>
        val c0 = vecsBase
          .select(col("vec_id").as("ida"), col("embedding").as("va"))
        val c1 = vecsBase.select(col("vec_id").as("idb"),
          zip_with(col("embedding"), lit(signs(1)), (x, y) => x * y)
            .as("vb"))
        val r = c0.crossJoin(c1)
          .select(graft.functions.Vectors.cosine(col("va"), col("vb"))
            .as("c"))
          .agg(max(abs(col("c"))).as("mx"),
            sum(when(abs(col("c")) >= 0.45, 1L).otherwise(0L)).as("nv"),
            count(lit(1)).as("n")).collect()(0)
        println(f"PROBE xcos: max |cross-copy cos| ${r.getDouble(0)}%.4f; " +
          s"≥0.45: ${r.getLong(1)} of ${r.getLong(2)} pairs")
      // the TAGGED scheme's empirical confirmation: max cross-copy
      // cosine must be ≤ 0.5, strictly below the remapped 0.725 cut
      case "xcost" =>
        val two = replicatedTaggedVecs(2)
        val c0 = two.filter(col("vec_id") < 1000000L)
          .select(col("vec_id").as("ida"), col("embedding").as("va"))
        val c1 = two.filter(col("vec_id") >= 1000000L)
          .select(col("vec_id").as("idb"), col("embedding").as("vb"))
        val r = c0.crossJoin(c1)
          .select(graft.functions.Vectors.cosine(col("va"), col("vb"))
            .as("c"))
          .agg(max(abs(col("c"))).as("mx"),
            sum(when(abs(col("c")) >= taggedThreshold, 1L).otherwise(0L))
              .as("nv"),
            count(lit(1)).as("n")).collect()(0)
        println(f"PROBE xcost: max |cross-copy cos| ${r.getDouble(0)}%.4f " +
          f"(bound 0.5); ≥$taggedThreshold%.3f: ${r.getLong(1)} " +
          s"of ${r.getLong(2)} pairs")
      // the SQ8 tier's serving I/O claim at scale: land the SAME
      // corpus twice partitioned by cid — float vectors (IVF-flat's
      // serving read) and the s12 code column (IVF-SQ's) — and serve
      // the same nProbe=2 pruned top-10 from each, measuring bytes
      // actually read. The claim: both prune identically (cid
      // partitions), codes read ~4-8× fewer bytes (one byte/dim
      // bit-packed vs 8-byte doubles), and both serving walls stay
      // flat as the corpus grows (pruning absorbs the growth; the
      // scored set is nProbe/nLists of the data at every scale).
      case "sq" =>
        def runSq(tag: String,
            d: org.apache.spark.sql.DataFrame): Long = {
          graft.Caches.fresh()
          val dd = d.cache()
          val nV = dd.count()
          val nLists = graft.operators.Ann.ivfConfigFor(nV)
          val cb = graft.operators.Ann.trainCodebookSampled(
            dd.select(col("vec_id"), col("embedding").as("v")), nLists, nV)
          val assigned = dd.select(col("vec_id"),
            col("embedding").as("v"),
            element_at(graft.functions.Vectors
              .centroidRanks(col("embedding"), cb), 1).as("cid"))
          val (mins, scales) = graft.operators.Ann.sqModelFrom(
            dd.select(col("embedding").as("v")), 64)
          val base = graft.Staging.scratch(s"probe_sq_$tag")
          assigned.repartition(col("cid")).write
            .partitionBy("cid").parquet(s"$base/flat")
          assigned
            .select(col("vec_id"),
              graft.operators.Ann.sqCodes(col("v"), mins, scales)
                .as("codes"), col("cid"))
            .repartition(col("cid")).write
            .partitionBy("cid").parquet(s"$base/codes")
          val qv = dd.filter(col("vec_id") === 0L)
            .collect()(0).getSeq[Double](1)
          dd.unpersist()
          val pls = {
            import spark.implicits._
            Seq(Tuple1(qv)).toDF("v")
              .select(explode(slice(graft.functions.Vectors
                .centroidRanks(col("v"), cb), 1, 2)).as("cid"))
              .collect().map(_.getInt(0)).toSeq
          }
          val q = typedLit(qv)
          def serveFlat(): Long = spark.read.parquet(s"$base/flat")
            .filter(col("cid").isin(pls: _*) && col("vec_id") =!= 0L)
            .select(col("vec_id"),
              round(graft.functions.Vectors.cosine(col("v"), q), 4)
                .as("cos"))
            .orderBy(col("cos").desc, col("vec_id")).limit(10).count()
          val mn = typedLit(mins.toSeq)
          val sc = typedLit(scales.toSeq)
          def serveSq(): Long = spark.read.parquet(s"$base/codes")
            .filter(col("cid").isin(pls: _*) && col("vec_id") =!= 0L)
            .select(col("vec_id"),
              round(aggregate(
                zip_with(q, transform(col("codes"), (c, i) =>
                  element_at(mn, i + 1) +
                    (c.cast("double") + 0.5) * element_at(sc, i + 1)),
                  (a, b) => (a - b) * (a - b)),
                lit(0.0), (acc, e) => acc + e), 4).as("d_est"))
            .orderBy(col("d_est"), col("vec_id")).limit(10).count()
          val ((hF, sF), rF, bF) = measured {
            val t = System.nanoTime
            val h = serveFlat(); (h, (System.nanoTime - t) / 1e9)
          }
          val ((hS, sS), rS, bS) = measured {
            val t = System.nanoTime
            val h = serveSq(); (h, (System.nanoTime - t) / 1e9)
          }
          println(f"PROBE sq [$tag] nLists $nLists, nProbe 2: " +
            f"IVF-flat serve $sF%.2f s ($hF hits, $rF rows, " +
            f"${bF / 1024}%d KiB read); IVF-SQ serve $sS%.2f s " +
            f"($hS hits, $rS rows, ${bS / 1024}%d KiB read); " +
            f"bytes ratio ${bF.toDouble / math.max(1L, bS)}%.1f x")
          hS
        }
        timed("sq", runSq("base", vecsBase),
          runSq(s"${copies}x", replicatedVecs(copies)))
      // shared two-layout serve scaffold for the quantized/truncated
      // index probes: land the full-precision table and a compact
      // index table, time the flat exact serve against the
      // index-shortlist serve, and report the index-footprint ratio
      // (bytes-read at probe scale is dictionary-compression noise —
      // replicated vectors — so on-disk footprint is the honest
      // scan-cost proxy). buildIndex writes $base/index and returns
      // the index-serve closure for a query vector.
      case op @ ("bq" | "mrl" | "funnel") =>
        def dirBytes(p: String): Long = {
          val d0 = java.nio.file.Paths.get(p)
          java.nio.file.Files.walk(d0).filter(
            java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
        }
        def rerank(base: String, short: Array[Long],
            q: org.apache.spark.sql.Column): Long =
          spark.read.parquet(s"$base/flat")
            .filter(col("vec_id").isin(short: _*))
            .select(col("vec_id"),
              round(graft.functions.Vectors.cosine(col("v"), q), 4)
                .as("cos"))
            .orderBy(col("cos").desc, col("vec_id")).limit(10).count()
        def servedIndexProbe(tag: String,
            d: org.apache.spark.sql.DataFrame,
            buildIndex: (org.apache.spark.sql.DataFrame, String) =>
              Seq[Double] => Long): Long = {
          graft.Caches.fresh()
          val dd = d.cache()
          dd.count()
          val base = graft.Staging.scratch(s"probe_${op}_$tag")
          dd.select(col("vec_id"), col("embedding").as("v"))
            .write.parquet(s"$base/flat")
          val serveIdx = buildIndex(dd, base)
          val qv = dd.filter(col("vec_id") === 0L)
            .collect()(0).getSeq[Double](1)
          dd.unpersist()
          val q = typedLit(qv)
          def serveFlat(): Long = spark.read.parquet(s"$base/flat")
            .filter(col("vec_id") =!= 0L)
            .select(col("vec_id"),
              round(graft.functions.Vectors.cosine(col("v"), q), 4)
                .as("cos"))
            .orderBy(col("cos").desc, col("vec_id")).limit(10).count()
          val ((hF, sF), rF, _) = measured {
            val t = System.nanoTime
            val h = serveFlat(); (h, (System.nanoTime - t) / 1e9)
          }
          val ((hI, sI), rI, _) = measured {
            val t = System.nanoTime
            val h = serveIdx(qv); (h, (System.nanoTime - t) / 1e9)
          }
          val (zF, zI) =
            (dirBytes(s"$base/flat"), dirBytes(s"$base/index"))
          // records-read is the pruning witness bytes can't be at
          // probe scale (dictionary compression): a partitioned
          // index serve must read FEWER rows than the flat scan
          println(f"PROBE $op [$tag]: flat serve $sF%.2f s ($hF " +
            f"hits, $rF rows read); $op serve $sI%.2f s ($hI hits, " +
            f"$rI rows read); index footprint ${zI / 1024}%d KiB vs " +
            f"flat ${zF / 1024}%d KiB = " +
            f"${zF.toDouble / math.max(1L, zI)}%.1fx smaller")
          hI
        }
        // BQ: the 64 sign bits packed msb-first into ONE long
        // (8 B/vector — the production layout the s17 scaladoc
        // names; the operator's string bits are the oracle-parity
        // layer), served by bit_count(sig XOR query) Hamming
        // shortlist + exact rerank over exactly the shortlist
        def buildBq(dd: org.apache.spark.sql.DataFrame,
            base: String): Seq[Double] => Long = {
          val means = graft.operators.Ann.bqModelFrom(
            dd.select(col("embedding").as("v")), 64)
          val mn = typedLit(means.toSeq)
          // a pure fold that fuses with the ingest scan (overflow
          // into the sign bit wraps identically for every row —
          // only XOR sees it)
          val packed =
            aggregate(sequence(lit(1), lit(64)), lit(0L), (acc, i) =>
              shiftleft(acc, 1).bitwiseOR(
                when(element_at(col("embedding"), i) >
                  element_at(mn, i), 1L).otherwise(0L)))
          dd.select(col("vec_id"), packed.as("sig"))
            .write.parquet(s"$base/index")
          qv => {
            val psig = qv.zip(means)
              .foldLeft(0L) { case (acc, (x, m)) =>
                (acc << 1) | (if (x > m) 1L else 0L) }
            val short = spark.read.parquet(s"$base/index")
              .filter(col("vec_id") =!= 0L)
              .select(col("vec_id"),
                bit_count(col("sig").bitwiseXOR(lit(psig)))
                  .as("hamming"))
              .orderBy(col("hamming"), col("vec_id")).limit(50)
              .collect().map(_.getLong(0))
            rerank(base, short, typedLit(qv))
          }
        }
        // MRL: the prefix-32 slice as its own table — the shortlist
        // scan reads ONLY the prefix bytes, the rerank fetches the
        // shortlist's full vectors
        def buildMrl(dd: org.apache.spark.sql.DataFrame,
            base: String): Seq[Double] => Long = {
          dd.select(col("vec_id"),
            slice(col("embedding"), 1, 32).as("pv"))
            .write.parquet(s"$base/index")
          qv => {
            val short = spark.read.parquet(s"$base/index")
              .filter(col("vec_id") =!= 0L)
              .select(col("vec_id"), graft.functions.Vectors
                .cosine(col("pv"), typedLit(qv.take(32))).as("pc"))
              .orderBy(col("pc").desc, col("vec_id")).limit(100)
              .collect().map(_.getLong(0))
            rerank(base, short, typedLit(qv))
          }
        }
        // FUNNEL: the deployed s20 layout — the packed-long BQ table
        // PARTITIONED BY cid, so the serve's list cut becomes
        // partition pruning (reads nProbe/nLists of the index rows)
        // before the 50-row exact rerank
        def buildFunnel(dd: org.apache.spark.sql.DataFrame,
            base: String): Seq[Double] => Long = {
          val cb = graft.operators.Ann.trainCodebook(
            dd.select(col("vec_id"),
              col("embedding").cast("array<double>").as("v")),
            16, 64, 3)
          val means = graft.operators.Ann.bqModelFrom(
            dd.select(col("embedding").as("v")), 64)
          val mn = typedLit(means.toSeq)
          val packed =
            aggregate(sequence(lit(1), lit(64)), lit(0L), (acc, i) =>
              shiftleft(acc, 1).bitwiseOR(
                when(element_at(col("embedding"), i) >
                  element_at(mn, i), 1L).otherwise(0L)))
          dd.select(col("vec_id"), packed.as("sig"),
            element_at(graft.functions.Vectors
              .centroidRanks(col("embedding"), cb), 1).as("cid"))
            .write.partitionBy("cid").parquet(s"$base/index")
          qv => {
            val pls = spark.range(1)
              .select(slice(graft.functions.Vectors.centroidRanks(
                typedLit(qv), cb), 1, 4))
              .collect()(0).getSeq[Int](0)
            val psig = qv.zip(means)
              .foldLeft(0L) { case (acc, (x, m)) =>
                (acc << 1) | (if (x > m) 1L else 0L) }
            // the shortlist stage measured ALONE: its rows-read is
            // the partition-pruning witness (the rerank's 50-row
            // fetch pays row-group granularity at probe scale and
            // would drown it)
            val (short, rS, _) = measured {
              spark.read.parquet(s"$base/index")
                .filter(col("cid").isin(pls: _*) &&
                  col("vec_id") =!= 0L)
                .select(col("vec_id"),
                  bit_count(col("sig").bitwiseXOR(lit(psig)))
                    .as("hamming"))
                .orderBy(col("hamming"), col("vec_id")).limit(50)
                .collect().map(_.getLong(0))
            }
            println(f"PROBE funnel shortlist stage: $rS%d of the " +
              "index rows read (4/16 lists pruned at the partition " +
              "level)")
            rerank(base, short, typedLit(qv))
          }
        }
        val build = op match {
          case "bq" => buildBq _
          case "mrl" => buildMrl _
          case _ => buildFunnel _
        }
        timed(op, servedIndexProbe("base", vecsBase, build),
          servedIndexProbe(s"${copies}x", replicatedVecs(copies),
            build))
      // the sink file-growth bound measured as deployed: drive 20
      // micro-batches of the sf0.1 events through st16SinkStep under
      // a file budget and report PER-BATCH walls with maintenance
      // batches marked. The claims: non-maintenance batches stay
      // flat (arrivals-sized work — the landing + one tag check +
      // bounded snapshot replay), maintenance amortizes over the
      // batches since the last trigger, and the live file count ends
      // bounded by the budget while 20 batches landed 80 files.
      case "st16" =>
        val ev = spark.read
          .parquet("/root/testdata/sf0.1/events.parquet")
          .selectExpr("event_id", "event_type",
            "CAST(value AS DOUBLE) AS value")
        val root = graft.Staging.scratch("probe_st16")
        val budget = 12
        val walls = (0 until 20).map { b =>
          val log = graft.sources.TableLog.open(root)
          val before = log.latestVersion.getOrElse(-1L)
          val t = System.nanoTime
          graft.streaming.Streams.st16SinkStep(spark, root,
            ev.filter(col("event_id") % 20 === b), b.toLong,
            maxFiles = budget)
          val s = (System.nanoTime - t) / 1e9
          // a maintenance pass mints an extra (tagged) version
          val maint = graft.sources.TableLog.open(root)
            .latestVersion.getOrElse(-1L) > before + 1L
          (s, maint)
        }
        val log = graft.sources.TableLog.open(root)
        val live = log.snapshot(log.latestVersion.get).length
        println("PROBE st16 per-batch s: " + walls.map { case (s, m) =>
          f"$s%.1f${if (m) "*" else ""}" }.mkString(" ") +
          f"; ${walls.count(_._2)}%d maintenance passes (*), " +
          f"live files $live%d (budget $budget%d, 80 landed), " +
          f"${log.versions.length}%d versions")
      // TableLog planning cost vs batch history: a sink commits one
      // batch per interval forever — the question a year of
      // micro-batches asks is whether PLANNING (snapshot + prune)
      // stays bounded. With write-time checkpoints every 8 commits
      // the replay is ≤ 8 commit files regardless of history; without
      // them it is O(history). Driver-side metadata only — no Spark
      // job; `copies` scales the history (10 → 640 commits, 100 →
      // 6,400).
      // the p2 staged RAG build + p3 pruned serving: build wall by
      // stage (classify/normalize/chunk/TF/encode/IVF — the one-time
      // corpus cost), the 7-row report, and the serving probe with a
      // bytes-read witness (serve must stay ~flat as the corpus
      // grows: the probe reads nProbe of ~√n lists)
      case "p2" =>
        def runRag(tag: String, d: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val dir = graft.Staging.scratch(s"probe_p2_$tag")
          d.withColumn("n_chars", length(col("text")))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          val t = graft.Tables(spark, dir)
          val t0 = System.nanoTime
          val root = graft.operators.Pipeline.ragRoot(t)
          val sBuild = (System.nanoTime - t0) / 1e9
          val t1 = System.nanoTime
          graft.operators.Pipeline.p2RagIngest(t).collect()
          val sRep = (System.nanoTime - t1) / 1e9
          val ((nH, sServe), recs, bytes) = measured {
            val tS = System.nanoTime
            val n = graft.operators.Pipeline.p3RagServe(t).count()
            (n, (System.nanoTime - tS) / 1e9)
          }
          val nChunks = spark.read.parquet(s"$root/enc").count()
          val nProbed = spark.read.parquet(s"$root/enc_ivf").count()
          println(f"PROBE p2 [$tag] build $sBuild%.1f s " +
            f"($nChunks chunks, $nProbed indexed); report $sRep%.1f s; " +
            f"p3 serve $sServe%.2f s ($nH rows, $recs recs, " +
            f"${bytes / 1024}%d KiB read)")
        }
        runRag("base", full)
        runRag(s"${copies}x", replicatedFull(copies))
      // the DELETE path at scale: build a root, then remove (a) a
      // FEW docs (the GDPR-request shape — pruning should bound the
      // serving-tower rewrite to the victims' buckets/lists) and (b)
      // a 10% mass (every bucket/list affected). Reports wall + the
      // affected-partition counts, splitting the cost question the
      // scaladoc raises: pruned serving towers vs corpus-sized flat
      // artifacts.
      case "rm" =>
        // per-table snapshot via snapFiles: after the delete, a file
        // whose signature changed (or is new) counts as REWRITTEN
        // bytes — the witness that the wave's cost is
        // victims-coupled, not corpus-coupled
        def snapT(root: String, n: String): Map[String, (Long, Long)] =
          snapFiles(java.nio.file.Paths.get(root, n))
        val rmTables =
          Seq("routed", "chunks", "tf", "enc", "tf_b", "enc_ivf")
        def runRm(tag: String, d: org.apache.spark.sql.DataFrame,
            victimPick: org.apache.spark.sql.Column): Unit = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch(s"probe_rm_$tag")
          d.select(col("doc_id"), col("text").as("body"))
            .write.mode("overwrite").parquet(s"$root/routed")
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100)
          val victims = spark.read.parquet(s"$root/routed")
            .filter(victimPick).select("doc_id")
          val nV = victims.count()
          val vch = spark.read.parquet(s"$root/chunks")
            .join(victims, Seq("doc_id"), "left_semi").select("chunk_id")
          val (nDb, lexB) = graft.operators.Pipeline.layoutOf(root)
          val nB = spark.read.parquet(s"$root/tf")
            .join(vch, Seq("chunk_id"), "left_semi")
            .select(graft.operators.Search.termBucket(col("term"), lexB)
              .as("tb")).distinct().count()
          val nDbV = victims.select(graft.operators.Pipeline
              .docBucket(col("doc_id"), nDb).as("db"))
            .distinct().count()
          val nC = spark.read.parquet(s"$root/enc_ivf")
            .join(vch.withColumnRenamed("chunk_id", "vec_id"),
              Seq("vec_id"), "left_semi")
            .select("cid").distinct().count()
          val nLists = spark.read.parquet(s"$root/enc_ivf")
            .select("cid").distinct().count()
          val before = rmTables.map(n => n -> snapT(root, n)).toMap
          val t0 = System.nanoTime
          val n = graft.operators.Pipeline
            .removeFromTowers(spark, root, victims)
          val s = (System.nanoTime - t0) / 1e9
          val byTable = rmTables.map { tn =>
            val after = snapT(root, tn)
            val total = after.values.map(_._1).sum / 1e6
            val rew = after.filter { case (p, sig) =>
              !before(tn).get(p).contains(sig) }.values.map(_._1)
              .sum / 1e6
            f"$tn $rew%.1f/$total%.1f"
          }.mkString(" ")
          println(f"PROBE rm [$tag] removed $n of ${nV} picked in " +
            f"$s%.1f s; affected $nB/$lexB term buckets, " +
            f"$nDbV/$nDb doc buckets, $nC/$nLists ivf lists; " +
            s"rewritten/total MB: $byTable")
        }
        runRm("base-few", docs, col("doc_id") % 497 === 0)
        runRm("base-mass", docs, col("doc_id") % 10 === 0)
        runRm(s"${copies}x-few", replicated(copies),
          col("doc_id") % 4993 === 0)
        runRm(s"${copies}x-mass", replicated(copies),
          col("doc_id") % 10 === 0)

      // st25's production regime: FEW victims per wave, many waves —
      // per-wave seconds and rewritten bytes must stay flat in wave
      // count and corpus size (victims-coupled), post the bucketed
      // flat-artifact layout
      case "rmwave" =>
        def snapAll(root: String): Map[String, (Long, Long)] =
          snapFiles(java.nio.file.Paths.get(root))
        def runWaves(tag: String,
            d: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch(s"probe_rmwave_$tag")
          d.select(col("doc_id"), col("text").as("body"))
            .write.mode("overwrite").parquet(s"$root/routed")
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100)
          import spark.implicits._
          (0 until 4).foreach { w =>
            val ids = Seq(0L, 1L, 2L).map(i => w * 101L + 3L + i * 37L)
            val before = snapAll(root)
            // bytes READ ride the task input metrics (the round-16
            // fix pruned the REWRITES to the victims' partitions but
            // left three corpus-wide victim-derivation scans; the
            // rewritten-MB witness below cannot see bytes read, so
            // the read side gets its own victims-coupling witness).
            // The wall clock brackets ONLY the remove — measured()'s
            // listener-drain sleep must not inflate the published
            // per-wave seconds
            val ((n, sec), _, rdBytes) = measured {
              val t0 = System.nanoTime
              val r = graft.operators.Pipeline
                .removeFromTowers(spark, root, ids.toDF("doc_id"))
              (r, (System.nanoTime - t0) / 1e9)
            }
            val after = snapAll(root)
            val rew = after.filter { case (p, sig) =>
              !before.get(p).contains(sig) }.values.map(_._1).sum / 1e6
            val total = after.values.map(_._1).sum / 1e6
            println(f"PROBE rmwave [$tag] wave $w: removed $n in " +
              f"$sec%.1f s, rewrote $rew%.1f of $total%.1f MB, " +
              f"read ${rdBytes / 1e6}%.1f MB")
          }
        }
        runWaves("base", docs)
        runWaves(s"${copies}x", replicated(copies))

      // the GROW side of the bucketed layout: addToTowers appends
      // per-bucket files, so a long add cadence fragments every
      // bucket (the st14 compaction concern applied to the flat
      // artifacts). Measures parquet file count + serve wall every
      // few waves over ~20 add waves, and the rebuild() compaction
      // folding the files back down at the end.
      case "addwave" =>
        def pqCount(root: String): Int =
          snapFiles(java.nio.file.Paths.get(root)).size
        def runAdds(tag: String,
            d: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch(s"probe_addwave_$tag")
          val all = d.select(col("doc_id"), col("text").as("body"))
          // build on the first ~half, grow by 20 waves of the rest
          all.filter(col("doc_id") % 2 === 0)
            .write.mode("overwrite").parquet(s"$root/routed")
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100)
          val waves = 20
          (0 until waves).foreach { w =>
            val batch = all.filter(col("doc_id") % 2 === 1)
              .filter(col("doc_id") % (2L * waves) === (2L * w + 1L))
            val t0 = System.nanoTime
            val n = graft.operators.Pipeline
              .addToTowers(spark, root, batch)
            val sec = (System.nanoTime - t0) / 1e9
            if (w % 5 == 4 || w == 0) {
              val t1 = System.nanoTime
              val served = graft.operators.Pipeline
                .serveStandard(spark, root, 5).count()
              val secQ = (System.nanoTime - t1) / 1e9
              println(f"PROBE addwave [$tag] wave $w: added $n in " +
                f"$sec%.1f s; files ${pqCount(root)}, " +
                f"serve($served) $secQ%.1f s")
            }
          }
          // rebuild() is the documented compaction: files fold back
          val cb = graft.streaming.Streams.loadCodebook(root)
          val t2 = System.nanoTime
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100,
            graft.operators.Embed.dim, cb)
          val secR = (System.nanoTime - t2) / 1e9
          println(f"PROBE addwave [$tag] rebuild: files " +
            f"${pqCount(root)} in $secR%.1f s")
        }
        runAdds("base", docs)
        runAdds(s"${copies}x", replicated(copies))

      // p4/r19_staged one-plan scoring at scale: postings bytes READ
      // vs query-set size and corpus scale (the '|union buckets|/nLex
      // of the postings' claim, measured) — the query-set derivation
      // (one offline tf scan) is excluded, the scoring+pack plan is
      // what serving re-pays per eval/pack run
      case "p4scale" =>
        def runP4(tag: String,
            d: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val root = graft.Staging.scratch(s"probe_p4_$tag")
          d.select(col("doc_id"), col("text").as("body"))
            .write.mode("overwrite").parquet(s"$root/routed")
          graft.operators.Pipeline.buildTowers(spark, root, 200, 100)
          val tbl = graft.operators.Pipeline.ragTablesAt(spark, root)
          val (_, nLex) = graft.operators.Pipeline.layoutOf(root)
          val tfbMB = graft.streaming.Streams
            .stateDirBytes(s"$root/tf_b") / 1e6
          for (nq <- Seq(4, 16, 64)) {
            val qrows = graft.operators.Pipeline
              .selfQuerySet(tbl, nq, 3)
            val buckets = qrows.map(_._2).distinct
              .map(graft.operators.Search.termBucketOf(_, nLex))
              .distinct.size
            val t0 = System.nanoTime
            val (rows, recs, bytes) = measured {
              graft.operators.Pipeline.packFromScores(
                graft.operators.Pipeline.selfQueryScores(
                  graft.operators.Pipeline.servedAt(spark, root), qrows,
                  withDl = true), 8, 2, 120).count()
            }
            val sec = (System.nanoTime - t0) / 1e9
            // the eval twin reuses the same one-plan scoring pass;
            // timed apart so the pack bytes above stay a clean
            // postings-scan witness (eval re-derives the query set —
            // a deliberate offline tf scan)
            val t1 = System.nanoTime
            val evalRows = graft.operators.Pipeline
              .stagedSelfEval(spark, root, nq, 3, 5).count()
            val secE = (System.nanoTime - t1) / 1e9
            println(f"PROBE p4scale [$tag] nq=$nq: $buckets/$nLex " +
              f"buckets, read ${bytes / 1e6}%.1f MB " +
              f"($recs recs) vs tf_b $tfbMB%.1f MB total; " +
              f"pack $rows rows $sec%.1f s; " +
              f"eval $evalRows rows $secE%.1f s")
          }
        }
        runP4("base", docs)
        runP4(s"${copies}x", replicated(copies))
      // p2's normalize-routing under CLASS SKEW: a corpus that is
      // ~100% ipynb (doc_id ≡ 21 mod 1768 → ext ipynb, never hidden,
      // never a dir) — every row pays r12's from_json and the other
      // two routes scan-and-drop. Compares the skewed build against
      // the balanced mix at the SAME row count: if routing re-scans
      // per class, the skewed build pays ~3× the scan it uses.
      case "p2skew" =>
        def corpus(skew: Boolean, n: Int) = {
          val base = full.limit(n)
          if (!skew) base
          else base.select(
            (row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy("doc_id")).cast("long") * 1768L + 21L)
              .as("doc_id"),
            col("source"), col("lang"), col("text"))
        }
        def build(tag: String, d: org.apache.spark.sql.DataFrame): Unit = {
          graft.Caches.fresh()
          val dir = graft.Staging.scratch(s"probe_p2skew_$tag")
          d.withColumn("n_chars", length(col("text")))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          val t = graft.Tables(spark, dir)
          val ((root, sBuild), recs, bytes) = measured {
            val t0 = System.nanoTime
            val r = graft.operators.Pipeline.ragRoot(t)
            (r, (System.nanoTime - t0) / 1e9)
          }
          val routed = spark.read.parquet(s"$root/routed").count()
          println(f"PROBE p2skew [$tag] build $sBuild%.1f s " +
            f"($routed routed, $recs recs read, ${bytes / 1024}%d KiB)")
        }
        val n = 500 * copies
        build("balanced", corpus(skew = false, n))
        build("ipynb-skew", corpus(skew = true, n))
      case "tlog" =>
        import graft.sources.TableLog
        def fe(i: Int) = TableLog.FileEntry(
          s"f$i", i * 100L, i * 100L + 99L, 100L)
        val nC = copies * 64
        def build(ckpt: Boolean, txn: Boolean = true): TableLog = {
          val log = TableLog.open(
            graft.Staging.scratch(s"probe_tlog_${ckpt}_$txn"))
          (0 until nC).foreach { i =>
            val v = log.commit(Seq(TableLog.Add(fe(i))),
              tag = if (txn) s"b@$i" else s"b$i")
            if (ckpt && (v + 1) % 8 == 0) log.checkpoint()
          }
          log
        }
        def planMs(log: TableLog): (Double, Int) = {
          val v = log.latestVersion.get
          val t0 = System.nanoTime
          val n = log.prunedFiles(v, nC * 50L, nC * 50L + 999L).length
          ((System.nanoTime - t0) / 1e6, n)
        }
        def ckBytes(log: TableLog): Long = {
          val d = java.nio.file.Paths.get(log.root, "_log")
          java.nio.file.Files.list(d).toArray.map(_.toString)
            .filter(_.endsWith(".checkpoint")).sorted.lastOption
            .map(p => java.nio.file.Files.size(
              java.nio.file.Paths.get(p))).getOrElse(0L)
        }
        val t0 = System.nanoTime
        val withCk = build(ckpt = true)
        val commitS = (System.nanoTime - t0) / 1e9
        val noCk = build(ckpt = false)
        val (msCk, nCk) = planMs(withCk)
        val (msNo, nNo) = planMs(noCk)
        println(f"PROBE tlog: $nC%d commits (write+ckpt $commitS%.1f s); " +
          f"pruned-plan with checkpoints $msCk%.1f ms ($nCk files), " +
          f"replay-from-v0 $msNo%.1f ms ($nNo files)")
        // the TAG-INDEX law (st22 lands four tagged destinations per
        // batch — four logs of this shape per sink): with txn-shaped
        // tags (b@i) the checkpoint carries ONE watermark row however
        // many batches ran; with plain tags (bi) it carries a line
        // per batch ever committed — the O(history) the watermark
        // deletes. Measured at the same commit count, plus the
        // redelivery lookup cost against the head checkpoint.
        val plain = build(ckpt = true, txn = false)
        // the presence question — committed(), not tagVersion():
        // the exact-only tagVersion contract answers a version only
        // for the newest folded batch, so probing historical tags
        // through it would die below the watermark by design
        def lookupMs(log: TableLog, tag: Int => String): Double = {
          val t1 = System.nanoTime
          (0 until nC by math.max(1, nC / 64)).foreach(i =>
            require(log.committed(tag(i))))
          (System.nanoTime - t1) / 1e6
        }
        val msTxn = lookupMs(withCk, i => s"b@$i")
        val msPlain = lookupMs(plain, i => s"b$i")
        println(f"PROBE tlog tags: checkpoint ${ckBytes(withCk)}%d B " +
          f"(txn watermark) vs ${ckBytes(plain)}%d B (plain line-per-" +
          f"batch) at $nC%d tagged commits; 64 redelivery lookups " +
          f"$msTxn%.1f ms (txn) vs $msPlain%.1f ms (plain)")
      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
