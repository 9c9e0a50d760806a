package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}

/** p1: THE CURATION PIPELINE — the engine's operators composed into
  * the standard training-data funnel (the FineWeb/CCNet/Dolma shape):
  *
  *   input → quality filter (t2's composite score) → language filter
  *   (t1's stopword-profile argmax) → exact dedup (keep-min-id per
  *   content md5) → near dedup (keep-min-id per t4 winnowing
  *   fingerprint) → benchmark decontamination (d7's shared-5-gram
  *   contract) → curated set
  *
  * Every stage reuses the named operator's EXACT expression tree
  * (same tokenizer, same roundP quality math, same tie-broken argmax,
  * same shingle derivation), so the composition is spec-checkable
  * against the standalone operators' own outputs — the funnel is the
  * system's integration statement, not a sixth re-implementation.
  *
  * The query emits the attrition funnel: one row per stage with
  * (docs in, docs out, docs dropped, surviving BPE tokens) — the
  * report every curation run publishes.
  *
  * Scale: ONE tokenize pass feeds every stage (signals are fused
  * projections over the cached scan); the two dedups are each one
  * hash-partition shuffle on their group key (content md5 /
  * fingerprint) + row_number — the canonical dedup shuffle; the
  * decontamination side is bench-sized and enters via the same
  * size-guarded broadcast as d7. At 100 TB each stage's survivor set
  * would land in the lake (st16's sink) instead of living in cache —
  * the per-stage funnel aggregates are then metadata-cheap; the
  * funnel's union-of-aggregates is 6 one-row frames, never a
  * data-sized collect.
  */
object Pipeline {

  /** Mint a chunk_id and GUARD the arithmetic invariant the whole
    * layout leans on: `chunk_id = doc_id·10⁶ + start` is only
    * injective while `start < 10⁶` — a >1 MB document's chunk at a
    * character offset past that would silently collide with a
    * neighboring doc's id space, survive its own deletion
    * (removeFromTowers resolves victims by `chunk_id − (chunk_id mod
    * 10⁶)`), and mis-bucket. One branch per row (noise next to the
    * tokenize/encode work) turns that silent corruption into a loud
    * task failure at mint time.
    */
  private[graft] def mintChunkId(docId: Column, start: Column): Column =
    when(start >= 1000000L || start < 0L,
      raise_error(concat(lit("chunk start offset out of the chunk_id " +
        "minting domain [0, 1e6) — doc_id "), docId.cast("string"),
        lit(" start "), start.cast("string"),
        lit("; documents past 1e6 chars must be split upstream"))))
      .otherwise(docId * 1000000L + start)

  /** Run `f` under a Spark job description (guide §1.5) — labels are
    * thread-local, so the concurrent build/remove chains each label
    * their own jobs correctly in profiles and the UI. The enclosing
    * label comes back afterwards, so jobs a labelled thunk runs after
    * a nested label still carry the thunk's own.
    */
  private[graft] def labeled[T](
      spark: org.apache.spark.sql.SparkSession, desc: String)(
      f: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(outer)
  }

  /** The staged survivor frames, funnel order, each carrying
    * (doc_id, n_bpe, ...signals). Shared by the funnel query and the
    * `Graft.curate` facade (whose answer is the LAST frame).
    */
  /** The fused per-doc signal projection every p1 stage (and st22's
    * per-batch twin) filters on: ONE tokenize pass, quality score,
    * language profile scores, BPE count, shingles — no shuffle, no
    * caching (callers own their cache scope).
    */
  private[graft] def scoredProjection(docs: DataFrame,
      k: Int): DataFrame = {
    val profiles = TextAnalysis.profiles
    def pScore(words: Seq[String]): Column =
      size(filter(col("tk"), tk => tk.isin(words.map(w => w: Any): _*)))
    docs
      .select(col("doc_id"), col("text"),
        length(col("text")).as("n_chars_t"),
        Text.tokenize(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .withColumn("n_bpe",
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))))
      .withColumns(profiles.map { case (l, ws) =>
        s"s_$l" -> pScore(ws) }.toMap)
      .withColumn("q_score", TextAnalysis.roundP(
        lit(0.4) * least(col("n_chars_t") / 500.0, lit(1.0)) +
          lit(0.3) * (size(array_distinct(col("tk"))) / col("n_tok")) +
          lit(0.3) * (col("s_en") / col("n_tok"))))
      .withColumn("sh", Text.shinglesFast(k)(col("tk")))
  }

  /** p1's quality-cut predicate (stage 1) over a scored frame. */
  private[graft] def qualityPass(qualityMin: Double): Column =
    col("n_tok") > 0 && col("q_score") >= qualityMin

  /** p1's language-filter predicate (stage 2): t1's argmax with t1's
    * tie order ('de' wins an en/de tie) — keep docs the ID calls
    * English.
    */
  private[graft] def langPass: Column = {
    val mx = greatest(TextAnalysis.profiles.map { case (l, _) =>
      col(s"s_$l") }: _*)
    col("s_en") === mx && col("s_de") =!= mx
  }

  /** p1's near-dup fingerprint (t4's winnowing min-5-gram md5);
    * shingle-less docs have none.
    */
  private[graft] def fingerprintCol: Column =
    when(size(col("sh")) > 0, array_min(transform(col("sh"), s => md5(s))))

  private[graft] def stages(docs: DataFrame, qualityMin: Double,
      k: Int, benchMod: Long): Seq[(String, DataFrame)] = {
    graft.Caches.fresh()
    // one tokenize pass; every stage signal is a fused projection
    val scored = graft.Caches.materialized(scoredProjection(docs, k))

    // stage 1: t2's quality cut (token-less docs are unscoreable →
    // dropped, t2's own domain rule)
    val st1 = scored.filter(qualityPass(qualityMin))

    // stage 2: t1's argmax with t1's tie order (profiles seq order:
    // 'de' wins an en/de tie) — keep docs the ID calls English
    val st2 = st1.filter(langPass)

    // stage 3: exact dedup — keep-min-id per content md5 (d1's policy
    // at document granularity)
    val st3 = st2
      .withColumn("rk_e", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rk_e") === 1).drop("rk_e")

    // stage 4: near dedup — keep-min-id per t4 winnowing fingerprint
    // (min 5-gram md5); shingle-less docs have no fingerprint → kept
    val st4 = st3
      .withColumn("fingerprint", fingerprintCol)
      .withColumn("rk_n", row_number().over(
        Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))))
      .filter(col("fingerprint").isNull || col("rk_n") === 1)
      .drop("rk_n")

    // stage 5: d7's decontamination contract — the bench slice
    // (doc_id % benchMod == 0) is held out entirely, and any train
    // doc sharing a distinct 5-gram with it is dropped. The bench
    // shingle set is eval-suite-sized → the size-guarded broadcast
    // d7 uses; contamination is derived from the FULL corpus (a doc
    // deduped away is still evidence), exactly d7's frame.
    val shf = scored.select(col("doc_id"), explode(col("sh")).as("s5"))
    val bench = graft.Caches.materialized(
      shf.filter(col("doc_id") % benchMod === 0)
        .select("s5").distinct())
    // The contaminated ids earn their broadcast by a count too, so the
    // anti join's strategy is fixed when the plan is made. Left to AQE,
    // the runtime broadcast conversion depends on which stage finishes
    // first: when the train side's shuffle already ran it reads it
    // locally, a second plan whose 4 codegen classes a repeat call
    // compiled afresh (CodegenCacheSpec's intermittent failure).
    val contaminated = graft.Caches.cached(
      shf.filter(col("doc_id") % benchMod =!= 0)
        .join(graft.Guards.sizedBroadcast(bench), "s5")
        .select("doc_id").distinct())
    val st5 = st4.filter(col("doc_id") % benchMod =!= 0)
      .join(graft.Guards.sizedBroadcast(contaminated), Seq("doc_id"),
        "left_anti")

    Seq("input" -> scored, "quality" -> st1, "language" -> st2,
      "exact_dedup" -> st3, "near_dedup" -> st4,
      "decontaminate" -> st5)
  }

  /** The funnel report: (ord, stage, n_in, n_out, n_dropped,
    * toks_out) per stage — six one-row aggregates unioned in-plan,
    * n_in threaded by a lag window over the six rows.
    */
  def p1CurationFunnel(t: Tables, qualityMin: Double = 0.35,
      k: Int = 5, benchMod: Long = 97): DataFrame =
    funnelFrom(t.documents.select("doc_id", "text"), qualityMin, k,
      benchMod)

  private[graft] def funnelFrom(docs: DataFrame, qualityMin: Double,
      k: Int, benchMod: Long): DataFrame = {
    val st = stages(docs, qualityMin, k, benchMod)
    val rows = st.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_out"),
          coalesce(sum(col("n_bpe")), lit(0L)).as("toks_out"))
        .select(lit(i).as("ord"), lit(name).as("stage"),
          col("n_out"), col("toks_out"))
    }
    rows.reduce(_ union _)
      .withColumn("n_in", coalesce(
        lag(col("n_out"), 1).over(Window.orderBy("ord")),
        col("n_out")))
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      .select(col("ord"), col("stage"), col("n_in"), col("n_out"),
        col("n_dropped"), col("toks_out"))
      .orderBy("ord")
  }

  /** The curated survivor set itself — the pipeline's ANSWER (the
    * funnel is its report): doc ids that passed every stage, with
    * their token counts and quality scores.
    */
  private[graft] def curatedFrom(docs: DataFrame, qualityMin: Double,
      k: Int, benchMod: Long): DataFrame =
    stages(docs, qualityMin, k, benchMod).last._2
      .select(col("doc_id"), col("n_bpe"), col("q_score"))

  // ------------------------------------------------------------------
  // p2: the reference's RAG ingest pipeline, end-to-end
  // ------------------------------------------------------------------

  /** The ROUTED corpus (doc_id, body): r1's classify gate, then each
    * kept entry normalized by its type through the named operator's
    * OWN expression tree — `doc` via r2's frontmatter strip, `ipynb`
    * via r12's nbformat→markdown projection, other `code` via r16's
    * batched rewrite pass (the reference's prepare_data.py flow:
    * markdown parses, notebooks export, code rewrites; skips drop).
    */
  private[graft] def ragRouted(t: Tables, batchSize: Int = 32): DataFrame = {
    val base = t.documents
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("text"))
      .withColumn("filepath", Ingest.synthFilepath)
      .withColumn("ext", Ingest.extOf(col("filepath")))
      .withColumn("action", Ingest.actionOf(col("filepath")))
    // synthesize the per-route inputs INTO the text column (the test
    // corpus carries no real frontmatter/notebook JSON — r2/r12's own
    // synthesis, keyed to the classification), then route through the
    // ONE public normalizer — the facade and p2's build share a
    // single routing contract by construction
    val synth = base.withColumn("text",
      when(col("action") === "doc", Ingest.r2FmInput)
        .when(col("action") === "code" && col("ext") === "ipynb",
          Ingest.r12NbJson)
        .otherwise(col("text")))
    graft.api.Graft.ragNormalize(synth, "doc_id", "filepath", "lang",
      "text", batchSize)
  }

  /** BUILD-ONCE staging of the p2 artifacts per corpus (the
    * reference builds its index once at startup and serves every
    * query from it; at 100 TB each table below is a lake write):
    * `routed` (the normalized bodies), `chunks` (r4's sliding
    * window, chunk_id = doc_id·10⁶ + start), `tf` (the sparse tower:
    * r5's per-(chunk,term) frequencies) plus its SERVING form
    * (`stats`/`idf`/`tf_b` — precomputed corpus stats, per-term idf,
    * and term-bucket-partitioned postings with dl denormalized in),
    * and the dense tower (e1's encode per chunk + IVF list
    * assignment under an auto-sized [[Ann.ivfConfigFor]] codebook
    * trained by [[Ann]]'s sampled Lloyd's, staged cid-partitioned as
    * `enc_ivf`). Chunking/TF/encode are all map-side over the staged
    * scan; the build's shuffles are the TF/df/dl groupBys and the
    * two layout repartitions — all build-once costs the serving path
    * never re-pays.
    */
  private[graft] def ragRoot(t: Tables, size: Int = 200,
      step: Int = 100): String =
    graft.Staging.dir(s"${t.dir}:ragingest:$size:$step", "rag_ingest") { d =>
      landRoutedAndBuild(t.spark, d, ragRouted(t), size, step)
    }

  /** Measured bytes of the CORPUS source feeding a frame (the
    * routing pass's own input): a driver-side status call per
    * distinct input file, never a scan; 0 when the frame has no
    * file-backed source (an in-memory test corpus) — callers then
    * land flat and pay the build's re-stage, which is toy-scale by
    * construction.
    *
    * Bytes measure by a WALK of the analyzed plan: each file scan
    * contributes its FileIndex's bytes, Union branches SUM (a corpus
    * assembled from several drops is all corpus — taking the max
    * would under-bucket a 4-shard union past the 4x drift window),
    * and Join/multi-child nodes take their LARGEST side — a routing
    * plan that joins auxiliary file-backed tables (a language
    * allowlist, a quality-score side table) must not inflate the
    * corpus estimate with them: routed's size tracks the corpus
    * scan, and an over-estimate yields a systematically
    * over-bucketed layout that the 4x drift window then ACCEPTS
    * (drift under 4x never re-stages). Non-file sources (catalog /
    * V2 relations, in-memory frames) contribute 0 — worst case the
    * build lands flat and pays the re-stage it always used to.
    */
  private[graft] def inputBytesOf(df: DataFrame): Long =
    try {
      def walk(p: org.apache.spark.sql.catalyst.plans.logical
          .LogicalPlan): Long = p match {
        case lr: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          lr.relation match {
            case hfs: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => hfs.location.sizeInBytes
            case _ => 0L
          }
        case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
          u.children.map(walk).sum
        case other =>
          if (other.children.isEmpty) 0L
          else other.children.map(walk).max
      }
      math.max(0L, walk(df.queryExecution.analyzed))
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Land a routing pass's output as the root's `routed` and build
    * every tower in the same wave — ONE write of routed when the corpus
    * is file-backed: nDb derives from the input's measured file bytes
    * and routed lands db-partitioned directly, so the build skips its
    * re-stage (round 16 wrote the whole routed table twice per build —
    * landed flat by the routing pass, then re-staged to attach db; at
    * 100 TB that second write is a full-corpus pass). The build still
    * re-derives the target count from the LANDED bytes and re-stages
    * if the input-bytes estimate drifted past 4× — the self-correcting
    * fallback costs exactly what every build used to pay.
    */
  private[graft] def landRoutedAndBuild(
      spark: org.apache.spark.sql.SparkSession, d: String,
      routedDf: DataFrame, size: Int, step: Int,
      dim: Int = Embed.dim): Unit =
    towersWave(d) { (snap, w) =>
      val inBytes = inputBytesOf(routedDf)
      val nDbPre =
        if (inBytes > 0) {
          val nDb = docBucketsFor(inBytes)
          routedDf.withColumn("db", docBucket(col("doc_id"), nDb))
            .repartition(col("db"))
            .write.mode("overwrite").partitionBy("db").parquet(s"$w/landed")
          Some(nDb)
        } else {
          routedDf.write.mode("overwrite").parquet(s"$w/landed")
          None
        }
      buildWave(spark, snap, w, spark.read.parquet(s"$w/landed"), size, step,
        dim, None, nDbPre)
    }

  /** The WHOLE index build from the root's committed `routed` (doc_id,
    * body) table: chunks, the raw TF table, the staged BM25 serving
    * towers (stats/idf/term-bucketed postings with dl denormalized),
    * the encode, and the cid-partitioned dense serving layout + its
    * coarse codebook. Shared verbatim by p2's gated build (over the
    * synthesized routing) and the `Graft.ragIndex` facade (over real
    * user content) — one build, two front doors. `dim` threads the
    * encoder's output dimensionality end to end (the m6
    * facade-parameter pattern; the gated p2 pins [[Embed.dim]]).
    * `pinned` rebuilds under an EXISTING model (st15's pinned-codebook
    * contract — `RagIndex.rebuild` and the incremental-add equality
    * drill need assignment to stay stable); the default trains fresh.
    */
  private[graft] def buildTowers(
      spark: org.apache.spark.sql.SparkSession, d: String,
      size: Int, step: Int, dim: Int = Embed.dim,
      pinned: Option[graft.expressions.PlaneMatrix] = None): Unit =
    towersWave(d) { (snap, w) =>
      buildWave(spark, snap, w, snap.read(spark, "routed"), size, step, dim,
        pinned, None)
    }

  /** One build wave over `routed0` — the committed routed table, or,
    * with `nDbPre`, the routing pass's output landed db-bucketed in
    * `$w/landed`. Every table lands in the wave dir, and the wave's
    * ONE commit replaces the whole pre-wave snapshot (its codebook
    * included) and carries the layout.
    */
  private def buildWave(spark: org.apache.spark.sql.SparkSession,
      snap: TowersSnapshot, w: String, routed0: DataFrame, size: Int,
      step: Int, dim: Int, pinned: Option[graft.expressions.PlaneMatrix],
      nDbPre: Option[Int]): Unit = {
      // LAYOUT KNOBS from MEASURED bytes (the st13 stateBucketsFor
      // law, the round-15 verdict's ask): doc-hash buckets for the
      // flat artifacts so a delete wave rewrites victim buckets, not
      // the corpus; term buckets for the postings sized by the same
      // law (32 floor — at lake scale a query's bucket read stays
      // ~targetBucketBytes instead of vocab/32). Both ride the wave's
      // commit so every later mutation/serve derives the same
      // partitioning.
      val routedBytes = inputBytesOf(routed0)
      val nDbTarget = docBucketsFor(routedBytes)
      val nLex = lexBucketsFor(routedBytes)
      // a routing pass that LANDED routed already db-partitioned skips
      // the re-stage below: one write of routed per build, not two. The
      // pre-landed count came from the routing INPUT's measured file
      // bytes, so accept it only within 4× of the target the landed
      // bytes derive — outside that window the estimate was wrong
      // enough to matter and the re-stage self-corrects it
      val preOk = nDbPre.exists(n => n >= math.max(16, nDbTarget / 4)
        && n <= nDbTarget * 4)
      val nDb = if (preOk) nDbPre.get else nDbTarget
      // tf_b's INNER doc level from the same measured bytes: per-term-
      // bucket postings ≈ routedBytes/nLex; subdivide by doc hash only
      // once a cell would still carry ~targetBucketBytes (a toy root
      // collapses to 1 — the mass-delete small-file overhead was ~620
      // KB-sized cells at 20 ms of commit time each; a lake root's
      // term buckets are GB-sized and split to the 64 cap)
      val nTfbDb = math.min(tfbDocBuckets(nDb),
        graft.streaming.Streams.stateBucketsFor(
          routedBytes / math.max(1, nLex),
          targetBucketBytes = 256L << 10, floor = 1))
      // routed re-stages doc-bucketed unless it already landed that
      // way (a rebuild re-derives db after the drop — layout-count
      // migration and append-file compaction in one — so the layout
      // stays idempotent under rebuild())
      if (preOk) graft.Fs.move(s"$w/landed", s"$w/routed")
      else labeled(spark, "build: re-stage routed db-bucketed") {
        routed0.drop("db").withColumn("db", docBucket(col("doc_id"), nDb))
          .repartition(col("db"))
          .write.mode("overwrite").partitionBy("db").parquet(s"$w/routed")
      }
      val routed = spark.read.parquet(s"$w/routed").drop("db")
      // each flat artifact pays ONE build-once exchange on db for a
      // file-per-bucket layout (delete waves and bucket-pruned reads
      // then touch whole small files, never row-slices of big ones)
      labeled(spark, "build: chunk + write chunks") {
      graft.api.Graft.chunk(routed, "doc_id", "body", size, step)
        .select(mintChunkId(col("doc_id"), col("start")).as("chunk_id"),
          col("doc_id"), col("start"), col("chunk"))
        .withColumn("db", docBucket(col("doc_id"), nDb))
        .repartition(col("db"))
        .write.mode("overwrite").partitionBy("db").parquet(s"$w/chunks")
      }
      val ch = spark.read.parquet(s"$w/chunks").drop("db")
      // the SPARSE chain (tf → stats/idf/tf_b) and the DENSE chain
      // (encode → codebook → enc_ivf) depend only on the landed
      // chunks from here on — they run as CONCURRENT job groups
      // (guide §2.6: submit independent jobs from separate threads so
      // one chain's stage tails back-fill the executors the other
      // frees; the encode+train chain is compute-bound while the tf
      // chain is shuffle/write-bound, so they overlap well).
      graft.Concurrent.settleAll[Unit](spark)(Seq(
      "build: dense chain" -> (() => {
        // the encoded frame feeds THREE consumers (the enc write, the
        // codebook training set, the enc_ivf assignment) — persist it
        // for the chain instead of writing enc and re-reading the
        // largest table twice (guide §2.4/§6: the write-read-write
        // chain was a full extra scan of enc per consumer; an in-call
        // intermediate, unpersisted before the chain settles). Values
        // are identical to the landed parquet (vec_id/u16 untouched
        // by the db-partitioned write), and every downstream consumer
        // of enc_ivf is row-order-insensitive (the repartition(cid)
        // shuffle never had a deterministic fetch order).
        val enc = Embed.encodeFrame(ch, "chunk_id", "chunk", d = dim)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        labeled(spark, "build: encode + write enc") {
        enc
          .withColumn("db", docBucketOfChunk(col("vec_id"), nDb))
          .repartition(col("db"))
          .write.mode("overwrite").partitionBy("db").parquet(s"$w/enc")
        }
        // The dense tower lives in the STORED-CODE space: IVF trains
        // and assigns on the exact u16 integer code vectors (cast to
        // double — every value exactly representable), so the whole
        // tower — stored codes, coarse codebook, query code, list
        // choice — derives from md5-exact integers the DuckDB oracle
        // re-derives bit-for-bit (s3's float replay risk removed).
        val vecs = enc
          .select(col("vec_id"),
            transform(col("u16"), x => x.cast("double")).as("v"))
        val cb = pinned.getOrElse {
          labeled(spark, "build: train coarse codebook") {
            val n = vecs.count()
            Ann.trainCodebookSampled(vecs, Ann.ivfConfigFor(n), n,
              dim = dim)
          }
        }
        graft.streaming.Streams.saveCodebook(s"$w/codebook", cb)
        // serving layout: every stored code filed under its coarse
        // list, PARTITIONED BY cid — p3's probe reads ~nProbe/nLists
        // of the index via partition pruning (at 100 TB: nProbe dirs
        // of a √n-dir lake table). Only the SERVING columns land
        // (vec_id + the u16 code — the float embedding stays in
        // `enc`; a quantized serving tier never pays float bytes),
        // and rows co-locate by cid before the write so each list is
        // one file, not one-per-writing-task.
        labeled(spark, "build: assign + write enc_ivf") {
        enc
          .withColumn("cid",
            graft.functions.Vectors.centroidTop1(
              transform(col("u16"), x => x.cast("double")), cb))
          .select("vec_id", "u16", "cid")
          .repartition(col("cid"))
          .write.mode("overwrite").partitionBy("cid")
          .parquet(s"$w/enc_ivf")
        }
        } finally enc.unpersist(false)
      }),
      "build: sparse chain" -> (() => {
      // the tokenize+count aggregate feeds the tf write AND (renamed)
      // the two postings-rollup forks below; the doc-length rollup
      // feeds the tf_b join AND the stats aggregate. Persist both for
      // the chain (guide §2.4/§5 — the landed tf was re-scanned four
      // times and the dl shuffle ran twice; in-call intermediates,
      // unpersisted before the chain settles).
      val tfAgg = ch.select(col("chunk_id"),
          explode(Text.tokenize(col("chunk"))).as("term"))
        .groupBy("chunk_id", "term").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the SERVING form of the sparse tower, staged once (the
      // build-once/query-many contract applied to BM25's own
      // inputs): corpus stats and per-term idf precomputed, doc
      // length DENORMALIZED into each posting, postings PARTITIONED
      // by a portable term bucket — a query reads only its terms'
      // buckets (p3's cid-prune applied to the lexical side) and
      // re-derives nothing corpus-wide per query
      val tfD = tfAgg.withColumnRenamed("chunk_id", "doc_id")
      val dlD = tfD.groupBy("doc_id").agg(sum("tf").as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      labeled(spark, "build: tokenize + write tf") {
      tfAgg
        .withColumn("db", docBucketOfChunk(col("chunk_id"), nDb))
        .repartition(col("db"))
        .write.mode("overwrite").partitionBy("db").parquet(s"$w/tf")
      }
      // the postings rollups fork once more: stats→idf (idf reads the
      // landed stats) and the tf_b stage are independent given tf
      graft.Concurrent.settleAll[Unit](spark)(Seq(
      "build: stage tf_b postings" -> (() =>
        // tf_b is TWO-LEVEL partitioned (tb outer for the query-side
        // term-bucket pruning literal, db inner for the delete-side
        // victim-bucket pruning): a query reads its terms' tb dirs, a
        // delete wave rewrites only the (victim tb x victim db) cells
        tfD.join(dlD, "doc_id")
          .withColumn("tb", Search.termBucket(col("term"), nLex))
          .withColumn("db", docBucketOfChunk(col("doc_id"), nTfbDb))
          .repartition(col("tb"), col("db"))
          .write.mode("overwrite").partitionBy("tb", "db")
          .parquet(s"$w/tf_b")),
      "build: stats + idf rollups" -> (() => {
        // stats carry the EXACT integer (nd, len_sum) alongside the
        // derived avgdl, so an incremental add updates them with long
        // arithmetic and re-derives avgdl bit-equal to a full rebuild
        // (len_sum/nd == avg(dl): integer-valued doubles below 2^53
        // sum exactly in either order)
        dlD.agg(count(lit(1)).as("nd"), sum("dl").as("len_sum"))
          .select((col("len_sum").cast("double") / col("nd"))
            .as("avgdl"), col("nd"), col("len_sum"))
          .write.mode("overwrite").parquet(s"$w/stats")
        tfD.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(spark.read.parquet(s"$w/stats")))
          .withColumn("idf_bm",
            log(lit(1.0) +
              (col("nd") - col("df") + 0.5) / (col("df") + 0.5)))
          .select("term", "df", "idf_bm")
          .write.mode("overwrite").parquet(s"$w/idf")
      })))
      } finally { tfAgg.unpersist(false); dlD.unpersist(false); () }
      })))
      publish(snap, w, "build",
        TowersMeta(size, step, dim, nDb, nLex, nTfbDb), snap.files)
  }

  /** Term-bucket FLOOR for the partitioned postings layout (and the
    * bucket count of every legacy root built before the layout knobs
    * were persisted). [[lexBucketsFor]] grows it with measured bytes;
    * the bucket is a build knob, not a semantic one (pruning only
    * narrows the scan).
    */
  private[graft] val lexBuckets = 32

  /** Doc-hash bucket of the flat build artifacts: xxhash64 of
    * doc_id·10⁶ mod `nDb` — uniform regardless of id clustering (a
    * contiguous tenant's ids spread evenly), deterministic across
    * sessions, and cheaply re-derivable for any victim set at delete
    * time. The hash input is doc_id·10⁶ (not doc_id) so chunk-keyed
    * rows derive the SAME bucket by pure long arithmetic —
    * chunk_id − (chunk_id mod 10⁶) — with no division anywhere: a
    * floor(chunk_id / 10⁶) would round through double past 2^53 and
    * silently file a big-id doc's postings under a neighbor's
    * bucket, surviving its own deletion. Never enters an oracle:
    * readers drop it.
    */
  private[graft] def docBucket(docId: Column, nDb: Int): Column =
    pmod(xxhash64(docId.cast("long") * lit(1000000L)), lit(nDb.toLong))

  /** [[docBucket]] derived from a chunk/vector id (= doc_id·10⁶ +
    * start): exact long arithmetic, division-free.
    */
  private[graft] def docBucketOfChunk(chunkId: Column,
      nDb: Int): Column = {
    val c = chunkId.cast("long")
    pmod(xxhash64(c - pmod(c, lit(1000000L))), lit(nDb.toLong))
  }

  /** Doc-bucket count from measured routed bytes: the st13
    * [[graft.streaming.Streams.stateBucketsFor]] law (pow2), at a
    * 256 KB-of-ROUTED-bytes target — the derived artifacts multiply
    * each bucket ~15x (u16 codes + postings + chunk text per body
    * byte at dim 64), so a bucket carries a few MB of total artifact
    * bytes and a delete wave's rewrite is victims x a CONSTANT, not
    * victims x corpus/floor. Floored at 16, capped at 2^16 (st13's
    * cap: past it — ≳16 GB of routed per table — dir listings stay
    * tractable and per-bucket bytes grow with the corpus again,
    * which is where erasure batching, not bucket count, is the knob).
    */
  private[graft] def docBucketsFor(routedBytes: Long): Int =
    graft.streaming.Streams.stateBucketsFor(routedBytes,
      targetBucketBytes = 256L << 10, floor = 16)

  /** tf_b's INNER db level for a round-16 (5-line-meta) root — the
    * law those roots were WRITTEN under, kept so they keep reading
    * and deleting correctly. Current builds derive the level from
    * measured bytes instead (collapsing to 1 on toy roots — see
    * [[buildTowers]]) and commit it in the layout tag; this cap
    * (64) still bounds both laws so the postings table's cell count
    * (nLex × this) stays listable at every scale.
    */
  private[graft] def tfbDocBuckets(nDb: Int): Int = math.min(nDb, 64)

  /** Term-bucket count from the same measured bytes (postings bytes
    * track body bytes within a small factor): floored at the legacy
    * [[lexBuckets]], capped at 2048 so a query's per-term read stays
    * ~target-bucket-sized as the vocabulary grows with the corpus.
    */
  private[graft] def lexBucketsFor(routedBytes: Long): Int =
    math.min(2048,
      graft.streaming.Streams.stateBucketsFor(routedBytes,
        floor = lexBuckets))

  /** The build + layout record of a towers root. `nDb == 0` means a
    * legacy flat-artifact root (pre-bucketed-layout build): the
    * mutation paths rebuild it once to mint the layout.
    */
  private[graft] final case class TowersMeta(size: Int, step: Int,
      dim: Int, nDb: Int, nLex: Int, nTfbDb: Int)

  /** The layout every wave's commit carries in its tag, the way a
    * StateTable rewrite carries `nb=`.
    */
  private def tagOf(op: String, m: TowersMeta): String =
    s"$op:size=${m.size},step=${m.step},dim=${m.dim},nDb=${m.nDb}," +
      s"nLex=${m.nLex},nTfbDb=${m.nTfbDb}"

  private def metaOfTag(tag: String): Option[TowersMeta] = {
    val kv = "(\\w+)=(\\d+)".r.findAllMatchIn(tag)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    Option.when(kv.contains("nDb"))(TowersMeta(kv("size"), kv("step"),
      kv("dim"), kv("nDb"), kv("nLex"), kv("nTfbDb")))
  }

  /** The layout of a root: its head commit's tag; a root with no log
    * reads the `towers.meta` file builds wrote before the log existed
    * — 3 lines = legacy flat root, 5 = round-16 bucketed (tf_b's inner
    * level derived as [[tfbDocBuckets]], the law those roots were
    * written under), 6 = the inner level persisted. Anything else is a
    * corrupt root and fails loudly — a hand-edited or truncated meta
    * must never silently serve as a different layout.
    */
  private[graft] def towersMetaOf(d: String): Option[TowersMeta] =
    snapshotOf(d).meta

  private def legacyMetaOf(d: String): Option[TowersMeta] =
    graft.Fs.read(s"$d/towers.meta").map { body =>
      val l = body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      l.length match {
        case 3 => TowersMeta(l(0).toInt, l(1).toInt, l(2).toInt,
          0, lexBuckets, 0)
        case 5 => TowersMeta(l(0).toInt, l(1).toInt, l(2).toInt,
          l(3).toInt, l(4).toInt, tfbDocBuckets(l(3).toInt))
        case 6 => TowersMeta(l(0).toInt, l(1).toInt, l(2).toInt,
          l(3).toInt, l(4).toInt, l(5).toInt)
        case n => sys.error(s"malformed towers.meta at $d: $n " +
          "non-empty lines (expected 3, 5, or 6) — refusing to " +
          "guess a layout; restore the meta or rebuild the root")
      }
    }

  /** The tables a towers root commits through its log (`$d/_log`). */
  private val towerTables =
    Seq("routed", "chunks", "tf", "tf_b", "idf", "stats", "enc", "enc_ivf")

  /** One committed state of a towers root: the head version (None for
    * a root with no log, whose current files stand in for it), the
    * files it holds (tables and codebook, spelled under the root) and
    * the layout its commit carries.
    */
  private[graft] final case class TowersSnapshot(root: String,
      version: Option[Long], files: Seq[String], meta: Option[TowersMeta]) {
    private def relOf(f: String): String = f.stripPrefix(s"$root/")

    def filesOf(t: String): Seq[String] =
      files.filter(relOf(_).startsWith(s"$t/"))

    /** Table `t`'s files by partition dir (`db=3`, `tb=1/db=0`; "" for
      * an unpartitioned table).
      */
    def partsOf(t: String): Map[String, Seq[String]] =
      filesOf(t).groupBy(f => relOf(f).split('/').drop(1).dropRight(1)
        .mkString("/"))

    /** The committed codebook: a build's `codebook/` entry, or an
      * adopted root's `codebook.meta`.
      */
    def codebookFile: Option[String] = files.find { f =>
      val r = relOf(f); r == "codebook.meta" || r.startsWith("codebook/")
    }

    def codebook: graft.expressions.PlaneMatrix =
      codebookFile.flatMap(graft.streaming.Streams.codebookAt)
        .getOrElse(sys.error(s"no committed codebook at $root"))

    /** Table `t` as this snapshot holds it (or the given subset of its
      * files): a file index rooted at the table dir, so the layout's
      * partition columns stay columns and partition filters prune, whose
      * one listing keeps only the snapshot's files. Spark's own read of
      * N file paths would stat each, in a listing job once N passes 32.
      */
    def read(spark: org.apache.spark.sql.SparkSession, t: String,
        only: Seq[String] = Nil): DataFrame = {
      def pathOf(f: String) = new Path(f).toUri.getPath
      val keep = (if (only.isEmpty) filesOf(t) else only).map(pathOf).toSet
      val leaves = graft.Fs.leafStatuses(s"$root/$t")
        .filter(s => keep(pathOf(s.getPath.toString))).toArray
      val listed = new FileStatusCache {
        override def getLeafFiles(p: Path) = Some(leaves)
        def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, Seq(new Path(s"$root/$t")),
        Map.empty, None, listed)
      val format = new ParquetFileFormat
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, format.inferSchema(spark, Map.empty, leaves.toSeq)
          .getOrElse(sys.error(s"no $t files at $root")),
        None, format, Map.empty)(spark))
    }
  }

  /** The head snapshot of `d`: the log's head commit, or, for a root
    * with no log, its current table files, `codebook.meta` and
    * `towers.meta` layout.
    */
  private[graft] def snapshotOf(d0: String): TowersSnapshot = {
    val d = d0.stripSuffix("/")
    val log = graft.sources.TableLog.open(d)
    log.latestVersion match {
      case Some(v) => TowersSnapshot(d, Some(v), log.snapshot(v).map(_.path),
        metaOfTag(log.tagOf(v)))
      case None => TowersSnapshot(d, None,
        towerTables.flatMap(t => graft.Fs.listRec(s"$d/$t", ".parquet"))
          .map(_.path) ++ graft.Fs.stat(s"$d/codebook.meta").map(_.path),
        legacyMetaOf(d))
    }
  }

  /** The codebook file a root commits, else `root/codebook.meta` (a
    * root with no log, or a maintained-state root).
    */
  private[graft] def codebookPath(d: String): String =
    snapshotOf(d).codebookFile.getOrElse(s"$d/codebook.meta")

  /** Run one towers wave at `d`. The mutation entry first: a crashed
    * wave's dir goes; a root with no log is adopted by one commit of
    * its current files; otherwise every file under the table dirs that
    * the head snapshot does not hold (a crashed wave's moved files) is
    * deleted. Then `body` runs over the head snapshot and the wave dir
    * `$d/_wave`, which goes on every exit.
    */
  private def towersWave[T](d0: String)(
      body: (TowersSnapshot, String) => T): T = {
    val d = d0.stripSuffix("/")
    val w = s"$d/_wave"
    graft.Fs.deleteTree(w)
    val head = snapshotOf(d)
    val snap = head.version match {
      case None if head.files.nonEmpty =>
        val log = graft.sources.TableLog.open(d)
        log.commit(head.files.map(entryOf), head.meta.fold("adopt")(
          tagOf("adopt", _)), atVersion = Some(0L))
        log.checkpoint()
        head.copy(version = Some(0L))
      case None => head
      case Some(_) =>
        val held = head.files.toSet
        for (t <- towerTables; f <- graft.Fs.listRec(s"$d/$t", ".parquet")
             if !held(f.path)) graft.Fs.deleteTree(f.path)
        head
    }
    try body(snap, w) finally { graft.Fs.deleteTree(w); () }
  }

  /** Run `body` with `held`, which materializes a frame for the wave;
    * every frame it held drops on every exit.
    */
  private def withCaches[T](body: (DataFrame => DataFrame) => T): T = {
    val held = scala.collection.mutable.Buffer[DataFrame]()
    try body { df => val c = graft.Caches.materialized(df); held += c; c }
    finally held.foreach(graft.Caches.drop)
  }

  private def entryOf(p: String): graft.sources.TableLog.Action =
    graft.sources.TableLog.Add(graft.sources.TableLog.FileEntry(p, 0L, 0L, 0L))

  /** Test-only fault seam: runs after each table's files moved into the
    * live dirs and before the wave's commit.
    */
  @volatile private[graft] var publishFault: String => Unit = _ => ()

  /** Publish a wave: evict the root's memoized snapshot, drop the
    * derived quantization-tier layouts and models (corpus-statistics
    * caches of `enc_ivf`, which would otherwise serve the pre-wave
    * corpus), land every file the wave staged under `$w/<table>` (and
    * `$w/codebook`) in the live dir under a wave-unique name
    * ([[graft.Fs.land]], as `Streams.appendTagged` lands a batch), then
    * ONE commit that removes `removed` and adds the landed files,
    * its tag carrying the layout. The commit is the wave: until it
    * lands, every reader resolves the pre-wave snapshot and never sees
    * a moved file. Then checkpoint, so the next reader starts from one
    * file list, and vacuum the replaced files.
    */
  private def publish(snap: TowersSnapshot, w: String, op: String,
      meta: TowersMeta, removed: Seq[String]): Unit = {
    val d = snap.root
    val v = snap.version.fold(0L)(_ + 1L)
    served.keySet.removeIf(_._2 == d)
    for (n <- Seq("enc_ivf_sq8", "enc_ivf_pq", "sq.meta", "pq.meta"))
      graft.Fs.deleteTree(s"$d/$n")
    val added = (towerTables :+ "codebook").flatMap { t =>
      val landed = graft.Fs.land(s"$w/$t", s"$d/$t", s"w$v-",
        if (t == "codebook") ".meta" else ".parquet")
      publishFault(t)
      landed
    }
    val log = graft.sources.TableLog.open(d)
    log.commit(removed.map(graft.sources.TableLog.Remove) ++
      added.map(entryOf), tagOf(op, meta), atVersion = Some(v))
    log.checkpoint()
    log.vacuum(retain = 1)
    ()
  }

  /** A legacy flat root (no layout knobs) rebuilds ONCE under its own
    * pinned codebook to mint the bucketed layout before a wave appends
    * or deletes — the alternative kept flat append and corpus-sized
    * delete arms alive forever, exercised only by roots no current
    * build produces.
    */
  private def mintLayout(spark: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val m = towersMetaOf(d).getOrElse(sys.error(
      s"no towers layout at $d — not a buildTowers root (rebuild once " +
        "with Graft.ragIndex to mint it)"))
    if (m.nDb == 0) buildTowers(spark, d, m.size, m.step, m.dim,
      graft.streaming.Streams.loadCodebook(d))
  }

  /** GROW a built index in place (the build → serve → GROW loop):
    * append `routedNew` (doc_id, body) rows to every tower of the
    * [[buildTowers]] layout — chunks/tf/enc/tf_b/enc_ivf appends are
    * all ARRIVALS-SIZED (st14/st15's maintain-step shape: tokenize +
    * bucket-partitioned append; encode + PINNED-codebook assignment +
    * cid-partitioned append — a retrained model would re-list the
    * whole index, so growth serves under the build's codebook until
    * an explicit rebuild), while the two corpus-rollup tables
    * recompute exactly: `stats` from the committed exact-integer
    * (nd, len_sum) plus the arrivals' (one row), `idf` as a
    * VOCAB-sized merge of the stored df with the arrivals' df under
    * the new nd — bit-equal to a full rebuild on the union corpus
    * (the GraftApiSpec equality drill), because every input is long
    * arithmetic and the idf expression is the build's own.
    *
    * Already-indexed doc_ids are dropped by an anti-join against
    * `routed` (the registry read — one slim column of the doc table;
    * the bucket-pruned version of this guard lives in st14), so a
    * re-added batch is a no-op, not a duplicate.
    *
    * CONTRACT: single-writer, and ONE commit per wave: the appends and
    * the two rollups land in the wave dir and publish together, so a
    * wave that dies anywhere before its commit leaves the root serving
    * exactly the pre-wave index, and its retry adds the arrivals anew.
    * A wave whose appends overgrow a partition dir is followed by a
    * [[compactTowers]] wave (its own commit).
    *
    * Returns the number of NEW docs actually indexed.
    */
  private[graft] def addToTowers(
      spark: org.apache.spark.sql.SparkSession, d: String,
      routedNew: DataFrame): Long = {
    graft.Caches.fresh()
    mintLayout(spark, d)
    val nNew = towersWave(d) { (snap, w) =>
      val meta = snap.meta.get
      val (size, step, dim) = (meta.size, meta.step, meta.dim)
      val (nDb, nLex, nTfbDb) = (meta.nDb, meta.nLex, meta.nTfbDb)
      val cb = snap.codebook
      // the wave's tables in the ROOT'S OWN layout
      def land(name: String, df: DataFrame, db: Column): Unit =
        df.withColumn("db", db)
          .write.mode("overwrite").partitionBy("db").parquet(s"$w/$name")
      withCaches { held =>
      val arr = held(routedNew
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        // in-batch duplicates dedup too (deterministic min-body pick):
        // the registry anti-join only guards against ALREADY-indexed
        // docs, and a doubled arrival row would land twice in every
        // tower — doubled tf, duplicate vec_ids, drifted nd/len_sum —
        // with rebuild() reproducing the corruption from routed
        .groupBy("doc_id").agg(min(col("body")).as("body"))
        .join(snap.read(spark, "routed").select("doc_id"),
          Seq("doc_id"), "left_anti"))
      val nNew = arr.count()
      if (nNew > 0L) {
      land("routed", arr, docBucket(col("doc_id"), nDb))
      val chNew = held(
        graft.api.Graft.chunk(arr, "doc_id", "body", size, step)
          .select(mintChunkId(col("doc_id"), col("start")).as("chunk_id"),
            col("doc_id"), col("start"), col("chunk")))
      land("chunks", chNew, docBucket(col("doc_id"), nDb))
      val tfNew = held(chNew
        .select(col("chunk_id"),
          explode(Text.tokenize(col("chunk"))).as("term"))
        .groupBy("chunk_id", "term").agg(count(lit(1)).as("tf")))
      land("tf", tfNew, docBucketOfChunk(col("chunk_id"), nDb))
      val tfD = tfNew.withColumnRenamed("chunk_id", "doc_id")
      val dlNew = held(tfD.groupBy("doc_id").agg(sum("tf").as("dl")))
      tfD.join(dlNew, "doc_id")
        .withColumn("tb", Search.termBucket(col("term"), nLex))
        .withColumn("db", docBucketOfChunk(col("doc_id"), nTfbDb))
        .repartition(col("tb"), col("db"))
        .write.mode("overwrite").partitionBy("tb", "db")
        .parquet(s"$w/tf_b")
      // stats: exact-integer rollup — one stored row + one arrival row
      val old = snap.read(spark, "stats")
        .select("nd", "len_sum").collect()(0)
      val inc = dlNew.agg(count(lit(1)).as("nd"), sum("dl").as("len_sum"))
        .collect()(0)
      val nd2 = old.getLong(0) + inc.getLong(0)
      val ls2 = old.getLong(1) + inc.getLong(1)
      import spark.implicits._
      Seq((ls2.toDouble / nd2, nd2, ls2)).toDF("avgdl", "nd", "len_sum")
        .coalesce(1).write.mode("overwrite").parquet(s"$w/stats")
      // idf: vocab-sized df merge, idf_bm re-derived under the new nd
      // with the build's own expression
      val dfNew = tfD.groupBy("term").agg(count(lit(1)).as("df_new"))
      snap.read(spark, "idf").select("term", "df")
        .join(dfNew, Seq("term"), "full")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) +
            coalesce(col("df_new"), lit(0L))).as("df"))
        .withColumn("idf_bm",
          log(lit(1.0) + (lit(nd2) - col("df") + 0.5) / (col("df") + 0.5)))
        .select("term", "df", "idf_bm")
        .write.mode("overwrite").parquet(s"$w/idf")
      // dense tower: encode arrivals, assign under the PINNED codebook,
      // append cid-partitioned (st15MaintainStep's shape)
      val encNew = held(Embed.encodeFrame(chNew, "chunk_id", "chunk", d = dim))
      land("enc", encNew, docBucketOfChunk(col("vec_id"), nDb))
      encNew
        .withColumn("cid",
          graft.functions.Vectors.centroidTop1(
            transform(col("u16"), x => x.cast("double")), cb))
        .select("vec_id", "u16", "cid")
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$w/enc_ivf")
      publish(snap, w, "add", meta, snap.filesOf("stats") ++ snap.filesOf("idf"))
      }
      nNew
      }
    }
    // a long add cadence fragments every touched partition dir (one
    // appended file per dir per wave): Probe addwave measured 20 waves
    // growing a 10× root to ~18k files with the serve wall +70% — fold
    // back the dirs the cadence overgrew
    if (nNew > 0L) compactTowers(spark, d)
    nNew
  }

  /** Fold multi-file partition dirs of the staged towers back to one
    * file each — the io5/io12 compaction discipline applied to the
    * index's own layout. Only dirs holding more than `maxFilesPerDir`
    * committed files rewrite, counted from the head snapshot (metadata
    * only: no listing, no job), so a pass costs fragmented buckets
    * only: at a steady add cadence each bucket folds once per
    * ~maxFilesPerDir waves — amortized bucketBytes/maxFilesPerDir per
    * wave, never the corpus. One commit; no-op without an overgrown
    * dir. The full fold remains rebuild().
    */
  private[graft] def compactTowers(
      spark: org.apache.spark.sql.SparkSession, d: String,
      maxFilesPerDir: Int = 8): Unit =
    towersWave(d) { (snap, w) =>
      val over = towerTables.map(t => t -> snap.partsOf(t).filter {
        case (part, fs) => part.nonEmpty && fs.size > maxFilesPerDir
      }).filter(_._2.nonEmpty)
      for ((t, parts) <- over) {
        val cols = parts.keys.head.split('/').map(_.takeWhile(_ != '=')).toSeq
        snap.read(spark, t, parts.values.flatten.toSeq)
          .repartition(cols.map(col): _*)
          .write.mode("overwrite").partitionBy(cols: _*).parquet(s"$w/$t")
      }
      if (over.nonEmpty)
        publish(snap, w, "compact", snap.meta.get,
          over.flatMap(_._2.values.flatten))
    }

  /** DELETE docs from a built index in place (the right-to-be-
    * forgotten path — build → serve → grow → REMOVE): drop every
    * trace of `idsDf`'s doc_ids from the [[buildTowers]] layout.
    *
    * EVERY table rewrites only its AFFECTED partitions on a
    * bucketed-layout root: the victims' doc buckets of the flat
    * artifacts (`routed`/`chunks`/`tf`/`enc` — ≤ min(victims,
    * docBuckets) dirs each), the (victim term bucket x victim doc
    * bucket) cells of `tf_b`, and the victims' coarse lists of
    * `enc_ivf` (≤ nProbe-scale of √n dirs); untouched partitions
    * keep their files byte-for-byte. The READS prune the same way:
    * the victim doc buckets derive by pure hash from the ids, every
    * victim-derivation scan (chunks, tf) carries that db partition
    * filter, and the victims' coarse lists re-derive from the
    * db-pruned `enc` under the pinned codebook instead of scanning
    * every `enc_ivf` list — so at 100 TB a delete wave's cost, read
    * AND rewrite, is VICTIMS-coupled, never corpus-coupled (the
    * round-15/16 scale-killers: corpus-sized anti-join rewrites,
    * then corpus-sized derivation scans). A legacy root without
    * layout knobs (3-line towers.meta) rebuilds ONCE here to mint
    * the layout, then deletes like any other root.
    *
    * The corpus rollups recompute EXACTLY: `stats` decrements the
    * committed integer (nd, len_sum) by the victims' (one 1-row
    * aggregate over the victim postings), `idf` merges the victims'
    * per-term df DOWN (terms whose df reaches 0 leave the vocab) and
    * re-derives idf_bm under the new nd — bit-equal to a pinned-
    * codebook rebuild on the surviving corpus (the GraftApiSpec
    * equality drill). The coarse codebook stays PINNED (st15's
    * contract — retraining would re-list the whole index); the
    * quantization-tier layouts are derived caches and invalidate.
    *
    * CONTRACT: single-writer, and ONE commit per wave: every rewrite
    * lands in the wave dir and publishes together, so a wave that
    * dies anywhere before its commit leaves the root serving exactly
    * the pre-wave index, victims included, and its retry removes
    * them. Unknown doc_ids are ignored (removing an absent doc is a
    * no-op). Returns the number of docs removed.
    */
  private[graft] def removeFromTowers(
      spark: org.apache.spark.sql.SparkSession, d: String,
      idsDf: DataFrame): Long = {
    graft.Caches.fresh()
    mintLayout(spark, d)
    towersWave(d) { (snap, w) =>
      val meta = snap.meta.get
      val (nDb, nLex, nTfbDb) = (meta.nDb, meta.nLex, meta.nTfbDb)
      def tbl(t: String): DataFrame = snap.read(spark, t)
      // the requested ids are erasure-request data on the forget
      // stream: every exit, a failed wave's too, drops their caches
      withCaches { held =>
      val ids = held(idsDf
        .select(col(idsDf.columns.head).cast("long").as("doc_id")).distinct())
      // doc buckets derive by PURE HASH from the ids (docBucket), no
      // table read — so even the membership check (is each id actually
      // indexed?) reads only the requested ids' routed buckets, and
      // every victim-DERIVATION scan below carries a db partition
      // filter: the wave's READ side is victims-coupled like its
      // rewrite side (round-16 pruned the rewrites but still paid
      // corpus-wide derivation scans — chunks, tf, and every enc_ivf
      // list — per wave; at 100 TB a 3-victim GDPR wave would have
      // scanned the chunk, posting, and code tables end-to-end before
      // rewriting 1.2%)
      val rawDbs: Seq[Any] = ids
        .select(docBucket(col("doc_id"), nDb).as("db"))
        .distinct().collect().map(_.getLong(0): Any).toSeq
      val victims = held(ids.join(tbl("routed")
          .filter(col("db").isin(rawDbs: _*)).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      val nVict = victims.count()
      if (nVict > 0L) {
      // re-derived from the CONFIRMED victims (⊆ rawDbs — unknown ids'
      // buckets drop out, tightening every downstream prune)
      val vDbs: Seq[Any] = victims
        .select(docBucket(col("doc_id"), nDb).as("db"))
        .distinct().collect().map(_.getLong(0): Any).toSeq
      // chunk-keyed rows resolve their doc by PURE ARITHMETIC
      // (chunk_id = doc_id·10⁶ + start ⇒ doc key = chunk_id −
      // (chunk_id mod 10⁶), exact long math — the [[docBucketOfChunk]]
      // identity), so the victim-CHUNK set never materializes: every
      // chunk-keyed table (tf, enc, tf_b, enc_ivf) semi/anti-joins the
      // victims frame directly on the derived key (guide §2.3:
      // shuffle/broadcast keys, not payloads; §1.2: fewer passes).
      val vKey = victims.select((col("doc_id") * 1000000L).as("__vdk"))
      def docKeyOf(c: Column): Column = {
        val l = c.cast("long"); l - pmod(l, lit(1000000L))
      }
      // tf's victim slice materializes ONCE (db-pruned — tf is
      // bucketed by the chunk's doc hash, the same modulus); the
      // per-term df decrement, the (nd, len_sum) decrement, and the
      // affected-cell set all derive from it without re-scanning tf
      val vtf = labeled(spark, "remove: stage victim postings (vtf)") {
        held(tbl("tf")
          .filter(col("db").isin(vDbs: _*))
          .join(vKey, docKeyOf(col("chunk_id")) === col("__vdk"),
            "left_semi")
          .drop("db"))
      }
      val vdf = vtf.groupBy("term").agg(count(lit(1)).as("df_dec"))
      // the victims' coarse lists re-derive from the db-PRUNED enc and
      // the pinned codebook — the st15 assignment contract: enc_ivf's
      // cid was minted as exactly this centroidRanks projection at
      // build/add time, so the projection over the victim codes IS the
      // victim list set, and the corpus-wide enc_ivf semi-join (a full
      // scan of every list per wave) never runs
      val cb = snap.codebook
      // The four pre-rewrite derivations are INDEPENDENT given the
      // staged vtf: the merged stats decrement, the victim coarse-list
      // collect, the victim (tb, db) cell collect, and the old-stats
      // read each cost one driver round-trip — run them as CONCURRENT
      // jobs (guide §2.6, the buildTowers overlap applied to the wave's
      // serial driver actions) instead of four sequential ones.
      val Seq(decA, vCidsA, vCellsA, oldA) = graft.Concurrent.settleAll[Any](spark)(Seq(
        // ONE aggregate job carries both exact decrements: len_sum
        // drops by the victims' Σtf; nd counts chunks WITH postings
        // (dl derives from tf — a token-less chunk never entered
        // stats), so the decrement counts the victim chunks that
        // appear in tf, not every victim chunk
        "remove: stats decrement aggregate" -> (() =>
          vtf.agg(sum("tf").as("len_dec"),
            countDistinct("chunk_id").as("nd_dec")).collect()(0)),
        "remove: victim coarse lists (vCids)" -> (() =>
          tbl("enc")
            .filter(col("db").isin(vDbs: _*))
            .join(vKey, docKeyOf(col("vec_id")) === col("__vdk"),
              "left_semi")
            .select(graft.functions.Vectors.centroidTop1(
              transform(col("u16"), x => x.cast("double")), cb)
              .as("cid"))
            .distinct().collect().map(_.getInt(0)).toSeq),
        // the EXACT victim (tb, db) cells of the postings layout,
        // derived from the victim postings (never a term-bucket x
        // doc-bucket cross product — a wave whose terms span 20
        // buckets and docs span 10 would otherwise rewrite 200 cells
        // where ~30 hold victims)
        "remove: victim postings cells (vCells)" -> (() =>
          vtf.select(
              Search.termBucket(col("term"), nLex).as("tb"),
              docBucketOfChunk(col("chunk_id"), nTfbDb).as("db"))
            .distinct().collect()
            .map(r => Seq(r.getLong(0).toInt: Any, r.getLong(1): Any))
            .toSeq),
        // stats decrement inputs (exact-integer: len_sum/nd stays
        // bit-equal to a rebuild's avg(dl) — integer-valued doubles
        // below 2^53)
        "remove: read pre-wave stats" -> (() =>
          tbl("stats").select("nd", "len_sum").collect()(0))))
      val dec = decA.asInstanceOf[Row]
      val lenDec = if (dec.isNullAt(0)) 0L else dec.getLong(0)
      val ndDec = dec.getLong(1)
      val vCids = vCidsA.asInstanceOf[Seq[Int]]
      val vCells = vCellsA.asInstanceOf[Seq[Seq[Any]]]
      // a delete wave must leave a non-empty index: a dir-less
      // partitioned table can't even be read back, and "forget the
      // whole corpus" is an explicit teardown, not an erasure wave.
      // The survivor check arms when the victims' buckets cover every
      // OCCUPIED db bucket of routed — read from the snapshot, since
      // vacuum leaves emptied dirs behind (comparing against nDb would
      // let a small corpus occupying fewer than nDb buckets be fully
      // erased without ever covering all of them) — and counts only
      // rows the wave is about to rewrite anyway.
      val occupied = snap.partsOf("routed").keySet
        .map(_.stripPrefix("db=").toLong)
      if (occupied.subsetOf(vDbs.map(_.asInstanceOf[Long]).toSet))
        require(nVict < tbl("routed")
            .filter(col("db").isin(vDbs: _*)).count(),
          "removeFromTowers would delete every routed doc — tear the " +
            "root down (or rebuild empty) instead of erasing in place")
      // survivors of the affected partitions, one file per partition:
      // a fully-emptied partition stages no file, and its old files
      // leave the snapshot with the commit
      def stage(name: String, cols: Seq[String], survivors: DataFrame): Unit =
        survivors.repartition(cols.map(col): _*)
          .write.mode("overwrite").partitionBy(cols: _*).parquet(s"$w/$name")
      // a left_anti join hoists its key to the front — re-select the
      // source's own column order so the rewritten table is bit-equal
      // to a rebuild's, schema included
      def antiInOrder(src: DataFrame, key: String): DataFrame =
        src.join(victims, Seq(key), "left_anti")
          .select(src.columns.map(col).toSeq: _*)
      // chunk-keyed survivors: anti-join on the ARITHMETIC doc key
      def antiDocInOrder(src: DataFrame, chunkKey: String): DataFrame =
        src.join(vKey, docKeyOf(col(chunkKey)) === col("__vdk"),
            "left_anti")
          .select(src.columns.map(col).toSeq: _*)
      val old = oldA.asInstanceOf[Row]
      val nd2 = old.getLong(0) - ndDec
      val ls2 = old.getLong(1) - lenDec
      import spark.implicits._
      // the seven rewrites touch DISJOINT tables whose inputs are all
      // cached or committed, so they submit as CONCURRENT Spark jobs —
      // a delete wave's latency is the longest single rewrite, not
      // their sum. Every flat rewrite is VICTIMS-SIZED.
      graft.Concurrent.settleAll(spark)(Seq("routed", "chunks", "tf", "enc")
        .map { t =>
          s"remove: rewrite $t" -> (() => {
            val src = tbl(t).filter(col("db").isin(vDbs: _*))
            stage(t, Seq("db"),
              if (t == "routed" || t == "chunks") antiInOrder(src, "doc_id")
              else antiDocInOrder(src, if (t == "tf") "chunk_id" else "vec_id"))
          })
        } ++ Seq(
        // the postings rewrite EXACTLY the victim (tb, db) cells; the
        // cell-key filter references only partition columns, so the
        // survivor scan partition-prunes to those dirs
        "remove: rewrite tf_b" -> (() =>
          stage("tf_b", Seq("tb", "db"), antiDocInOrder(tbl("tf_b")
            .filter(concat_ws("/", col("tb"), col("db")).isin(
              vCells.map(c => s"${c(0)}/${c(1)}"): _*)), "doc_id"))),
        "remove: rewrite enc_ivf" -> (() =>
          stage("enc_ivf", Seq("cid"), antiDocInOrder(tbl("enc_ivf")
            .filter(col("cid").isin(vCids.map(c => c: Any): _*)), "vec_id"))),
        "remove: rewrite stats + idf" -> (() => {
          Seq((if (nd2 == 0L) 0.0 else ls2.toDouble / nd2, nd2, ls2))
            .toDF("avgdl", "nd", "len_sum").coalesce(1)
            .write.mode("overwrite").parquet(s"$w/stats")
          // idf: vocab-sized df merge-down under the new nd; a term
          // whose last posting left leaves the vocabulary
          tbl("idf").select("term", "df")
            .join(vdf.select("term", "df_dec"), Seq("term"), "left")
            .select(col("term"),
              (col("df") - coalesce(col("df_dec"), lit(0L))).as("df"))
            .filter(col("df") > 0L)
            .withColumn("idf_bm",
              log(lit(1.0) +
                (lit(nd2) - col("df") + 0.5) / (col("df") + 0.5)))
            .select("term", "df", "idf_bm")
            .write.mode("overwrite").parquet(s"$w/idf")
        })))
      def in(t: String, keys: Set[String]): Seq[String] =
        snap.partsOf(t).collect { case (p, fs) if keys(p) => fs }.flatten.toSeq
      val dbKeys = vDbs.map(v => s"db=$v").toSet
      publish(snap, w, "remove", meta,
        Seq("routed", "chunks", "tf", "enc").flatMap(in(_, dbKeys)) ++
          in("tf_b", vCells.map(c => s"tb=${c(0)}/db=${c(1)}").toSet) ++
          in("enc_ivf", vCids.map(c => s"cid=$c").toSet) ++
          snap.filesOf("stats") ++ snap.filesOf("idf"))
      }
      nVict
      }
    }
  }

  /** Physical copy of a built index root into `dd` (gate plumbing
    * for the mutation gates — p5's batch delete and st25's forget
    * stream each work on their OWN clone so the shared memoized
    * fixture is never mutated). Copies through the session's Hadoop
    * filesystem, so any scheme the root lives on works; the log's
    * entries are root-relative, so the clone serves its own files.
    */
  private[graft] def cloneRoot(
      spark: org.apache.spark.sql.SparkSession, d0: String,
      dd: String): Unit = {
    // per-table copies are independent — run them concurrently
    // (guide §2.6 applied to driver-side fs work: the single-threaded
    // walk serialized ~9 table trees behind one thread; gate latency
    // drops to the largest table's copy)
    graft.Concurrent.settleAll(spark)(graft.Fs.list(d0).map { e =>
      s"clone: copy ${e.name}" -> (() => graft.Fs.copy(e.path, s"$dd/${e.name}"))
    })
    ()
  }

  // ------------------------------------------------------------------
  // Quantization tiers over the staged dense layout: the int16 tower
  // (denseTop) is the default; sq8 (1 B/dim) and pq (1 B/subspace)
  // trade bytes-read for recall, with an s11-style exact-rerank knob
  // to buy the recall back. All tiers serve cid-PRUNED from their own
  // partitioned layout; models persist next to the codebook.
  // ------------------------------------------------------------------

  /** PQ tier shape: 4 subspaces × 4 codewords, 2 Lloyd's rounds —
    * s5's published defaults, replayable in SQL.
    *
    * Measured limit (SURVEY §5 round-15 p3tiers sweep): the PQ tier
    * ranks at recall 0.00 within probed lists at EVERY nProbe, and
    * raising k to 16 (65,536 score profiles) was measured to change
    * NOTHING — the binding constraint is the corpus, not the
    * codebook. The stub encoder's stored codes are md5-uniform in
    * [0,2¹⁶)⁶⁴: no low-intrinsic-dimension structure exists for
    * subspace centroids to exploit (16-dim uniform subvectors keep
    * ~all their variance as quantization error at any small k), so
    * ADC dot estimates are noise — exactly the regime where per-dim
    * SQ (256 levels/dim, ~exact dots → recall ≡ int16) wins and PQ
    * needs its rerank stage. Real embedding corpora have low
    * intrinsic dimension; on THIS corpus the production tiers are
    * sq8 / sq8_rerank, and the PQ tier is gated for mechanics.
    */
  private[graft] val pqM = 4
  private[graft] val pqK = 4
  private[graft] val pqIters = 2

  /** A quantization tier as one towers snapshot serves it: the
    * model and the staged code layout's frame ([[ServedTowers.sq8]],
    * [[ServedTowers.pq]]).
    */
  private[graft] final case class Sq8Tier(mins: Array[Double],
      scales: Array[Double], frame: DataFrame)
  private[graft] final case class PqTier(books: Array[Array[Array[Double]]],
      sub: Int, frame: DataFrame)

  /** Mint-once SQ8 tier of a built root: per-dim (min, scale) over
    * the STORED u16 code space (one 1-row aggregate), codes staged
    * cid-partitioned as `enc_ivf_sq8` (1 B/dim — half the int16
    * tower's bytes). Reads the persisted model when a mint already
    * landed.
    */
  private def sq8TierOf(snap: ServedTowers): Sq8Tier = {
    val (spark, d) = (snap.spark, snap.root)
    val (mins, scales) = graft.streaming.Streams.loadModel(s"$d/sq.meta") match {
      case Some((Seq(dim), v)) => (v.take(dim), v.drop(dim))
      case _ =>
        graft.Registries.bump() // mint-once tier work (bench-visible)
        val dim = snap.dim
        // two sequential actions read this frame (the min/max model
        // aggregate, then the coded write) — materialize it once for
        // the mint instead of re-scanning + re-transforming enc_ivf
        val vecs = snap.tables("enc_ivf")
          .select(col("vec_id"), col("cid"),
            transform(col("u16"), x => x.cast("double")).as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (mins, scales) = Ann.sqModelFrom(vecs, dim)
          vecs
            .withColumn("codes", Ann.sqCodes(col("v"), mins, scales))
            .select("vec_id", "codes", "cid")
            .repartition(col("cid"))
            .write.mode("overwrite").partitionBy("cid")
            .parquet(s"$d/enc_ivf_sq8")
          graft.streaming.Streams.saveModel(s"$d/sq.meta", Seq(dim),
            mins ++ scales)
          (mins, scales)
        } finally vecs.unpersist(false)
    }
    Sq8Tier(mins, scales, spark.read.parquet(s"$d/enc_ivf_sq8"))
  }

  /** Mint-once PQ tier of a built root: [[pqM]] sub-codebooks
    * trained on the stored-code space (s5's deterministic seed +
    * Lloyd's), codes staged cid-partitioned as `enc_ivf_pq`
    * (1 B/subspace — 16× under the int16 tower at dim 64/m 4).
    * Reads the persisted model when a mint already landed.
    */
  private def pqTierOf(snap: ServedTowers): PqTier = {
    val (spark, d, dim) = (snap.spark, snap.root, snap.dim)
    val sub = dim / pqM
    val books = graft.streaming.Streams.loadModel(s"$d/pq.meta") match {
      case Some((Seq(m, k, s), v)) =>
        Array.tabulate(m)(mi => Array.tabulate(k)(ki =>
          v.slice((mi * k + ki) * s, (mi * k + ki) * s + s)))
      case _ =>
        graft.Registries.bump() // mint-once tier work (bench-visible)
        // the mint reads this frame pqM×(1 seed + pqIters rounds) + 1
        // coded-write = 13 sequential actions at the defaults — each
        // was a fresh enc_ivf scan + u16→double transform. Materialize
        // it ONCE for the mint (trainPqBooks trains the pqM
        // sub-codebooks concurrently).
        val vecs = snap.tables("enc_ivf")
          .select(col("vec_id"), col("cid"),
            transform(col("u16"), x => x.cast("double")).as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val books = Ann.trainPqBooks(vecs.select("vec_id", "v"), pqM,
            sub, pqK, pqIters)
          Ann.pqCoded(vecs, books, sub)
            .select((col("vec_id") +:
              (0 until pqM).map(mi => col(s"code$mi"))) :+ col("cid"): _*)
            .repartition(col("cid"))
            .write.mode("overwrite").partitionBy("cid")
            .parquet(s"$d/enc_ivf_pq")
          graft.streaming.Streams.saveModel(s"$d/pq.meta", Seq(pqM, pqK, sub),
            books.flatten.flatten)
          books
        } finally vecs.unpersist(false)
    }
    PqTier(books, sub, spark.read.parquet(s"$d/enc_ivf_pq"))
  }

  /** SQ8 dense serving: ASYMMETRIC INNER PRODUCT — the query's exact
    * code vector dotted against each stored code's bucket-center
    * reconstruction (s13's asymmetric shape under the tower's OWN
    * metric: this tower ranks by dot product, so its compressed tier
    * must estimate the dot product — an L2 estimate would shortlist
    * for the wrong ranking and no over-fetch could fix it) — scanned
    * ONLY in the query's probed lists from the staged `enc_ivf_sq8`
    * layout. (ip_est, vec_id) top-`k` descending.
    */
  private[graft] def denseTopSq8(snap: ServedTowers, qU16: Seq[Long],
      k: Int, nProbe: Int,
      probeCids: Option[Seq[Int]] = None): DataFrame = {
    val tier = snap.sq8
    val cids = probeCids.getOrElse(probeCidsOf(snap, qU16, nProbe))
    tier.frame
      .filter(col("cid").isin(cids.map(c => c: Any): _*))
      .select(col("vec_id").as("doc_id"),
        (floor(aggregate(
          zip_with(typedlit(qU16.map(_.toDouble)),
            Ann.sqReconstruct(col("codes"), tier.mins, tier.scales),
            (a, b) => a * b),
          lit(0.0), (acc, e) => acc + e) * 10000 + 0.5) / 10000.0)
          .as("ip_est"))
      .orderBy(col("ip_est").desc, col("doc_id")).limit(k)
  }

  /** PQ dense serving: the query's per-subspace DOT lookup tables
    * (model-sized driver constants; the inner-product ADC — the
    * tower's own metric, see [[denseTopSq8]]) summed over each
    * stored code tuple, scanned ONLY in the probed lists from the
    * staged `enc_ivf_pq` layout (s9's composition under
    * METRIC_INNER_PRODUCT). (ip_est, vec_id) top-`k` descending.
    */
  private[graft] def denseTopPq(snap: ServedTowers, qU16: Seq[Long],
      k: Int, nProbe: Int,
      probeCids: Option[Seq[Int]] = None): DataFrame = {
    val tier = snap.pq
    val cids = probeCids.getOrElse(probeCidsOf(snap, qU16, nProbe))
    val dt = pqDotTables(tier, qU16)
    tier.frame
      .filter(col("cid").isin(cids.map(c => c: Any): _*))
      .select(col("vec_id").as("doc_id"),
        (floor((0 until pqM).map(mi =>
            element_at(typedLit(dt(mi).toSeq), col(s"code$mi") + 1))
          .reduce(_ + _) * 10000 + 0.5) / 10000.0).as("ip_est"))
      .orderBy(col("ip_est").desc, col("doc_id")).limit(k)
  }

  /** The query's per-subspace dot tables under a PQ tier:
    * dt(mi)(j) = q_sv · codeword_j, an ascending-index fold, the same
    * sequential sum DuckDB's list_dot_product computes.
    */
  private[graft] def pqDotTables(tier: PqTier,
      qU16: Seq[Long]): Array[Array[Double]] = {
    val q = qU16.map(_.toDouble).toArray
    Array.tabulate(pqM) { mi =>
      val qsv = q.slice(mi * tier.sub, mi * tier.sub + tier.sub)
      tier.books(mi).map { cw =>
        var s = 0.0; var i = 0
        while (i < qsv.length) { s += qsv(i) * cw(i); i += 1 }; s
      }
    }
  }

  /** s11's exact-refinement stage over the staged tiers: the SQ8
    * tier shortlists `overFetch`·k candidates from the probed lists
    * (compressed bytes only), then ONLY the shortlist pays the exact
    * int16 dot — a broadcast semi-join point-read of the pruned
    * `enc_ivf` partitions, re-ranked top-`k` by (iscore desc, id).
    * Buys the int16 tower's ranking back at sq8 scan bytes (the
    * recall contract is spec-pinned).
    */
  private[graft] def denseTopRerank(snap: ServedTowers, qU16: Seq[Long],
      k: Int, nProbe: Int,
      overFetch: Int = 4, shortTier: String = "sq8"): DataFrame = {
    // ONE list choice serves both stages — the shortlist's pruned
    // compressed scan and the exact refetch probe the same lists.
    // `shortTier` picks the shortlist's code layout: sq8 (~exact
    // dots on this corpus) or pq (FAISS's IVFPQ+refine posture — the
    // refine stage makes the PQ tier's ordering exact over whatever
    // its ADC shortlist surfaced)
    val cids = probeCidsOf(snap, qU16, nProbe)
    val short = (shortTier match {
      case "sq8" => denseTopSq8(snap, qU16, k * overFetch, nProbe,
        Some(cids))
      case "pq" => denseTopPq(snap, qU16, k * overFetch, nProbe,
        Some(cids))
      case other => sys.error(s"unknown rerank shortlist tier '$other'")
    }).select("doc_id")
    snap.tables("enc_ivf")
      .filter(col("cid").isin(cids.map(c => c: Any): _*))
      .join(broadcast(short), col("vec_id") === col("doc_id"))
      .select(col("doc_id"),
        aggregate(
          zip_with(col("u16"), typedlit(qU16),
            (a, b) => a.cast("long") * b),
          lit(0L), (acc, x) => acc + x).as("iscore"))
      .orderBy(col("iscore").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("iscore").cast("double").as("score"))
  }

  /** p3's dense tower at the SQ8 tier, gated: the standard query's
    * code against the staged corpus — (chunk_id, ip_est) top-10 from
    * the probed lists. The oracle replays model fit + codes +
    * asymmetric inner-product scoring from the same exact integers.
    */
  def p3DenseSq8(t: Tables, k: Int = 10, nProbe: Int = 8): DataFrame =
    denseTopSq8(servedAt(t.spark, ragRoot(t)),
      Embed.u16Of(Search.queryTerms.mkString(" ")), k, nProbe)
      .withColumnRenamed("doc_id", "chunk_id")

  /** p3's dense tower at the PQ tier, gated — (chunk_id, ip_est)
    * top-10; the oracle replays the per-subspace Lloyd's training,
    * the dot ADC tables, and the pruned lookup-sum ranking.
    */
  def p3DensePq(t: Tables, k: Int = 10, nProbe: Int = 8): DataFrame =
    denseTopPq(servedAt(t.spark, ragRoot(t)),
      Embed.u16Of(Search.queryTerms.mkString(" ")), k, nProbe)
      .withColumnRenamed("doc_id", "chunk_id")

  /** p3's dense tower with SQ8 shortlist + exact rerank, gated —
    * (chunk_id, score) top-10 by the exact integer dot over a 4×
    * over-fetched compressed shortlist.
    */
  def p3DenseRerank(t: Tables, k: Int = 10, nProbe: Int = 8,
      overFetch: Int = 4): DataFrame =
    denseTopRerank(servedAt(t.spark, ragRoot(t)),
      Embed.u16Of(Search.queryTerms.mkString(" ")), k, nProbe,
      overFetch)
      .withColumnRenamed("doc_id", "chunk_id")

  /** p3's dense tower with PQ shortlist + exact rerank, gated —
    * (chunk_id, score) top-10 by the exact integer dot over a 4x
    * over-fetched ADC shortlist (FAISS's IVFPQ+refine). Makes the PQ
    * tier's ORDERING exact; its recall stays bounded by what the ADC
    * shortlist surfaces (honest on this md5-uniform corpus: the
    * round-15 null experiment pinned PQ recall at ~0 here — real
    * embedding corpora have the low intrinsic dimension PQ needs).
    */
  def p3DensePqRerank(t: Tables, k: Int = 10, nProbe: Int = 8,
      overFetch: Int = 4): DataFrame =
    denseTopRerank(servedAt(t.spark, ragRoot(t)),
      Embed.u16Of(Search.queryTerms.mkString(" ")), k, nProbe,
      overFetch, "pq")
      .withColumnRenamed("doc_id", "chunk_id")

  /** p5: DELETE FROM A BUILT INDEX, END TO END (the right-to-be-
    * forgotten drill [[removeFromTowers]] gated on the full chain):
    * clone p2's staged root, remove every routed doc with
    * doc_id % `mod` = `res`, then report one exact-integer row per
    * surviving tower — routed/chunks/tf/enc row counts with content
    * checksums (Σ body chars, Σ chunk chars, distinct terms, Σ u_sum
    * — p2's stage-report shape pointed at the post-remove state),
    * the persisted integer stats, the merged-down vocabulary
    * (Σ df), and the standard query served from the post-remove
    * towers (Σ hit chunk_ids).
    *
    * The ORACLE is the operator's contract made executable:
    * remove ≡ rebuild-on-survivors, so the oracle replays the WHOLE
    * build chain over `documents` WHERE doc_id % mod ≠ res and must
    * land on identical integers — any victim row surviving any
    * tower, any over-deleted posting, any drifted df/len_sum breaks
    * the hash.
    *
    * Scale: the clone is a one-time fs copy of the staged fixture
    * (gate plumbing, not the operator); the remove itself rewrites
    * only the victims' doc-bucket partitions of the flat artifacts
    * and the victims' term-bucket/coarse-list partitions of the
    * serving towers ([[removeFromTowers]] — victims-coupled bytes,
    * never corpus-coupled).
    */
  def p5IndexRemove(t: Tables, mod: Int = 7, res: Int = 3,
      k: Int = 5): DataFrame = {
    val spark = t.spark
    val d0 = ragRoot(t)
    val d = graft.Staging.dir(s"${t.dir}:ragremove:$mod:$res",
      "rag_removed") { dd =>
      cloneRoot(spark, d0, dd)
      val nRemoved = removeFromTowers(spark, dd,
        snapshotOf(dd).read(spark, "routed")
          .filter(col("doc_id") % mod === res).select("doc_id"))
      require(nRemoved > 0L,
        s"p5 gate expects victims at $mod/$res — got none")
      ()
    }
    val snap = servedAt(spark, d)
    val tbl = snap.tables
    val serve = bm25Staged(snap, Search.queryTerms, k)
    val rows = Seq(
      tbl("routed").agg(count(lit(1)).as("n_rows"),
        sum(length(col("body"))).cast("long").as("aux"))
        .select(lit(0).as("ord"), lit("routed").as("stage"),
          col("n_rows"), col("aux")),
      tbl("chunks").agg(count(lit(1)).as("n_rows"),
        sum(length(col("chunk"))).cast("long").as("aux"))
        .select(lit(1).as("ord"), lit("chunks").as("stage"),
          col("n_rows"), col("aux")),
      tbl("tf").agg(count(lit(1)).as("n_rows"),
        countDistinct(col("term")).cast("long").as("aux"))
        .select(lit(2).as("ord"), lit("tf_index").as("stage"),
          col("n_rows"), col("aux")),
      tbl("enc").agg(count(lit(1)).as("n_rows"),
        sum(col("u_sum")).cast("long").as("aux"))
        .select(lit(3).as("ord"), lit("dense_index").as("stage"),
          col("n_rows"), col("aux")),
      tbl("stats")
        .select(lit(4).as("ord"), lit("stats").as("stage"),
          col("nd").as("n_rows"), col("len_sum").as("aux")),
      tbl("idf").agg(count(lit(1)).as("n_rows"),
        sum(col("df")).cast("long").as("aux"))
        .select(lit(5).as("ord"), lit("vocab").as("stage"),
          col("n_rows"), col("aux")),
      serve.agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("aux"))
        .select(lit(6).as("ord"), lit("serving").as("stage"),
          col("n_rows"), col("aux")))
    rows.reduce(_ unionByName _).orderBy("ord")
  }

  /** The staged p2 tables, for serving / spec access. `dense` (the
    * (vec_id, cid) assignment) is a projection of the partitioned
    * serving layout `enc_ivf` — one physical copy of the index.
    */
  private[graft] def ragTables(t: Tables): Map[String, DataFrame] =
    ragTablesAt(t.spark, ragRoot(t))

  /** The staged tables of ANY built index root ([[buildTowers]]'
    * layout) — p2's gated fixture and the facade's user-built
    * indexes read through the same map.
    *
    * MEMOIZED per (session, root) at the root's head commit: resolving
    * the tables per call pays a file-index build and footer read for
    * all 9 tables on EVERY serve — the p3nprobe measurement put the
    * old per-call partition discovery at ~0.9 s/query on a 424-dir
    * 10× root (guide §6: file listing is the per-query
    * scan-independent cost a lake-scale layout must not re-pay). A hit
    * costs two stats ([[graft.sources.TableLog.isHead]]), however many
    * commits the root holds; every wave's commit moves the head, so a
    * memoized snapshot never serves a mutated root, and a wave evicts
    * the root's entry before it drops the tier layouts. A root with no
    * log never memoizes. Bounded: one entry per (session, root), and
    * the map clears wholesale past 64 entries (scratch roots in specs
    * would otherwise accumulate).
    */
  private val served = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), ServedTowers]()

  /** One committed towers snapshot as the driver serves it: the
    * resolved tables, the pinned coarse codebook, the postings'
    * term-bucket count, and the BM25 corpus weights (`avgdl` and every
    * term's `idf_bm`). Query-side list choice and BM25 weights become
    * plan LITERALS from here, so a search plans no job for them. The
    * weights are vocabulary-sized and load by two collects on first
    * use (lazily, so a caller that only reads tables never pays
    * them, and outside the memo's bin lock, because they run jobs).
    *
    * A memoized snapshot may also hold a [[ResidentTowers]] copy of
    * its serving layouts, so a hybrid search runs no Spark job.
    */
  private[graft] final class ServedTowers(
      val spark: org.apache.spark.sql.SparkSession,
      snapshot: TowersSnapshot, memoized: Boolean) {
    val root: String = snapshot.root
    val version: Option[Long] = snapshot.version
    // each table resolves ONCE from the snapshot's file list (`dense`
    // projects the already-resolved enc_ivf); the doc-bucket layout
    // column is partitioning, not data — readers (and the
    // oracle/equality dumps) see the logical schema on bucketed and
    // legacy roots alike
    val tables: Map[String, DataFrame] = {
      val raw = towerTables.map(n => n -> snapshot.read(spark, n)).toMap
      raw.map { case (n, df) => n -> df.drop("db") } +
        ("dense" -> raw("enc_ivf").select("vec_id", "cid"))
    }
    val nLex: Int = snapshot.meta.fold(lexBuckets)(_.nLex)
    lazy val codebook: graft.expressions.PlaneMatrix = snapshot.codebook
    // the encode width: the layout's, else the codebook's own (roots
    // built before the layout was recorded). NEVER the session
    // default: a dim-16 root minted through a 64-wide SQ fit would
    // null every ip_est
    lazy val dim: Int = snapshot.meta.fold(codebook.dim)(_.dim)
    lazy val avgdl: Double = labeled(spark, "serve: load avgdl") {
      tables("stats").select("avgdl").collect()(0).getDouble(0)
    }
    lazy val idf: Map[String, Double] = labeled(spark, "serve: load idf") {
      tables("idf").select("term", "idf_bm").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    // The quantization tiers, read or minted on first use like the
    // weights. Every wave drops the tier layouts before its commit
    // moves the head, so a snapshot's tier is never stale; a lazy val
    // initializes once, so concurrent first searches mint once.
    lazy val sq8: Sq8Tier = labeled(spark, "serve: load sq8 tier") {
      sq8TierOf(this)
    }
    lazy val pq: PqTier = labeled(spark, "serve: load pq tier") {
      pqTierOf(this)
    }
    /** The driver copy of this snapshot's serving layouts, when the
      * memo's copies leave room for it ([[ResidentTowers.fits]]); None
      * serves through Spark. Decided once, on the snapshot's first
      * hybrid search. An unmemoized snapshot lives for one call, so a
      * copy would be loaded for one search: it never gets one.
      */
    lazy val resident: Option[ResidentTowers] =
      if (memoized) admitResident(this) else None
    // the heap bytes `resident` reserved, 0 without a copy
    @volatile private[Pipeline] var residentBytes: Long = 0L
  }

  /** Decide [[ServedTowers.resident]] against the copies the memo
    * already holds. The size is the serving layouts' parquet bytes as
    * their resolved file indexes report them, so no listing runs.
    */
  private def admitResident(snap: ServedTowers): Option[ResidentTowers] = {
    val bytes = inputBytesOf(snap.tables("tf_b")) +
      inputBytesOf(snap.tables("enc_ivf"))
    served.synchronized {
      var held = 0L
      served.values.forEach(s => held += s.residentBytes)
      if (!ResidentTowers.fits(bytes, Runtime.getRuntime.maxMemory, held))
        None
      else {
        snap.residentBytes = ResidentTowers.heapBytes(bytes)
        Some(new ResidentTowers(snap))
      }
    }
  }

  private[graft] def servedAt(spark: org.apache.spark.sql.SparkSession,
      d0: String): ServedTowers = {
    val d = d0.stripSuffix("/")
    // keyed on the session OBJECT (reference equality) — an identity
    // hash can collide across sessions and would hand one session's
    // plan-bound DataFrames to another
    val key = (spark, d)
    val held = served.get(key)
    if (held != null &&
        graft.sources.TableLog.open(d).isHead(held.version.get)) held
    else {
      val snap = snapshotOf(d)
      if (snap.version.isEmpty) new ServedTowers(spark, snap, memoized = false)
      else {
        if (served.size > 64) served.clear()
        served.compute(key, (_, old) =>
          if (old != null && old.version == snap.version) old
          else new ServedTowers(spark, snap, memoized = true))
      }
    }
  }

  /** How many snapshots of `d` the memo holds for `spark` — spec
    * access.
    */
  private[graft] def servedGenerations(
      spark: org.apache.spark.sql.SparkSession, d: String): Int = {
    var n = 0
    served.keySet.forEach(k => if ((k._1 eq spark) && k._2 == d) n += 1)
    n
  }

  private[graft] def ragTablesAt(
      spark: org.apache.spark.sql.SparkSession,
      d: String): Map[String, DataFrame] = servedAt(spark, d).tables

  /** BM25 top-`k` from the STAGED serving towers: the query's term
    * buckets become a literal partition filter on the postings scan
    * (PlanSpec-locked), the generation's idf/avgdl enter as
    * literals, and the corpus side is join-free (dl rides the
    * posting). Identical ranking to [[Search.searchBm25From]] over
    * the raw tf — PipelineSpec drills the equality.
    */
  private[graft] def bm25Staged(snap: ServedTowers, terms: Seq[String],
      k: Int): DataFrame = {
    val buckets = terms.map(Search.termBucketOf(_, snap.nLex)).distinct
    Search.bm25ScoresStaged(
      snap.tables("tf_b")
        .filter(col("tb").isin(buckets.map(b => b: Any): _*)),
      snap.idf, snap.avgdl, terms)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** The standard query served from any built root's staged BM25
    * tower, (chunk_id, score) — the mutation gates' shared answer
    * shape (p5's serving row, st25's whole answer).
    */
  private[graft] def serveStandard(
      spark: org.apache.spark.sql.SparkSession, d: String,
      k: Int): DataFrame =
    bm25Staged(servedAt(spark, d), Search.queryTerms, k)
      .withColumnRenamed("doc_id", "chunk_id")

  /** p2: THE REFERENCE'S RAG INGEST PIPELINE END-TO-END — prepare
    * (classify → frontmatter/notebook/rewrite normalize) → chunk →
    * index build (sparse TF tower + dense e1-encode/IVF tower) →
    * serve, in ONE call (reference: zc_agent/prepare_data.py:193-224
    * → load_data.py:28-57 → search_tools.py:7-17; p1's composition
    * statement applied to the RAG surface). Emits the build report:
    * one row per stage with exact-integer evidence —
    *
    *   ord stage        n_rows              aux
    *   0   input        docs                Σ chars
    *   1   classify     kept (doc|code)     skipped
    *   2   normalize    routed bodies       Σ body chars
    *   3   chunk        chunks              Σ chunk chars
    *   4   tf_index     postings            distinct terms
    *   5   dense_index  vectors             Σ u_sum (exact int
    *                                        checksum of EVERY dim of
    *                                        every chunk vector)
    *   6   serving      top-5 BM25 hits     Σ hit chunk_ids
    *
    * The serving row runs the standard query against the BUILT
    * sparse tower through r8's own scoring core — the gate fails if
    * any upstream stage (classify routing, body normalization,
    * chunk boundaries, tokenization, TF counts) drifted by one char.
    * Every cell is an exact integer; floats never enter the hash.
    *
    * Scale: the build is staged once per corpus ([[ragRoot]]); the
    * report is 7 one-row aggregates over the staged tables unioned
    * in-plan (p1's metadata-cheap report shape); serving reads the
    * staged TF tower only.
    */
  def p2RagIngest(t: Tables, k: Int = 5): DataFrame = {
    val d = ragRoot(t)
    val snap = servedAt(t.spark, d)
    val tbl = snap.tables
    val docs = t.documents
    val cls = docs.select(col("doc_id"), col("source"))
      .withColumn("filepath", Ingest.synthFilepath)
      .withColumn("kept",
        Ingest.actionOf(col("filepath")).isin("doc", "code").cast("long"))
    val serve = bm25Staged(snap, Search.queryTerms, k)
    val rows = Seq(
      docs.agg(count(lit(1)).as("n_rows"),
        sum(length(col("text"))).cast("long").as("aux"))
        .select(lit(0).as("ord"), lit("input").as("stage"),
          col("n_rows"), col("aux")),
      cls.agg(sum(col("kept")).as("n_rows"),
        (count(lit(1)) - sum(col("kept"))).cast("long").as("aux"))
        .select(lit(1).as("ord"), lit("classify").as("stage"),
          col("n_rows"), col("aux")),
      tbl("routed").agg(count(lit(1)).as("n_rows"),
        sum(length(col("body"))).cast("long").as("aux"))
        .select(lit(2).as("ord"), lit("normalize").as("stage"),
          col("n_rows"), col("aux")),
      tbl("chunks").agg(count(lit(1)).as("n_rows"),
        sum(length(col("chunk"))).cast("long").as("aux"))
        .select(lit(3).as("ord"), lit("chunk").as("stage"),
          col("n_rows"), col("aux")),
      tbl("tf").agg(count(lit(1)).as("n_rows"),
        countDistinct(col("term")).cast("long").as("aux"))
        .select(lit(4).as("ord"), lit("tf_index").as("stage"),
          col("n_rows"), col("aux")),
      tbl("enc").agg(count(lit(1)).as("n_rows"),
        sum(col("u_sum")).cast("long").as("aux"))
        .select(lit(5).as("ord"), lit("dense_index").as("stage"),
          col("n_rows"), col("aux")),
      serve.agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("aux"))
        .select(lit(6).as("ord"), lit("serving").as("stage"),
          col("n_rows"), col("aux")))
    rows.reduce(_ unionByName _).orderBy("ord")
  }

  /** p3: RAG SERVING OVER THE BUILT INDEX — the reference's actual
    * user entry (`search_tools.py:7-17` answers a query from the
    * index `prepare→chunk→index` built) run against p2's STAGED
    * towers: the query string encodes through e1's own stub client
    * (the query-side encode every dense retriever pays), the sparse
    * tower answers r8's BM25 top-`kList` from the STAGED serving
    * index (term-bucket-pruned postings scan, literal idf/avgdl,
    * dl riding the posting — nothing corpus-wide recomputes per
    * query), the dense tower answers an
    * INT16-QUANTIZED dot-product top-`kList` — each stored dim's top
    * 16 bits dotted against the query's code, the production
    * quantized-retrieval serving shape (int8/int16 codes beat floats
    * on memory bandwidth; exact integer arithmetic means the IN-LIST
    * ranking is engine-exact) — and r18's RRF fuses the two rankings.
    *
    * The dense tower serves PRUNED: the query's code vector ranks
    * p2's coarse codebook (the one trained on the stored-code space
    * at build time), and only the `nProbe` nearest lists are read —
    * a partition-pruned scan of the cid-partitioned `enc_ivf` layout
    * (PlanSpec-locked: the cid filter reaches the scan's
    * PartitionFilters). The oracle replays the WHOLE chain — the
    * portable md5 training sample, three decimal-exact Lloyd's
    * rounds, list assignment, query-side list choice, and the pruned
    * integer-dot ranking (s3's replay pattern, but integer-sourced:
    * the vectors themselves are exact u16 ints in both engines).
    *
    * Scale: both towers read STAGED index tables (no re-tokenize, no
    * re-encode); the dense side reads ~nProbe/nLists of the index
    * (√n lists — at 100 TB a probe touches nProbe directories of
    * the lake-partitioned index, the s3/s19 serving shape), with the
    * quantized dot as the in-list scorer + TakeOrdered; both towers'
    * ≤ kList rows come back in one action and fuse on the driver.
    */
  def p3RagServe(t: Tables, kList: Int = 20, kOut: Int = 10,
      rrfK: Int = 60, nProbe: Int = 8): DataFrame =
    serveHybrid(t.spark, ragRoot(t), Search.queryTerms,
      Embed.u16Of(Search.queryTerms.mkString(" ")), kList, kOut,
      rrfK, nProbe)

  /** r19_staged: SEARCH-QUALITY EVAL SERVED FROM THE STAGED TOWERS —
    * r19's self-retrieval measurement (each eval query's source must
    * come back; reference: eval/calculate_metrics.py over
    * generate_questions.py's doc-derived question set) re-pointed at
    * the index p2 actually SHIPS: the eval set derives from the
    * first chunk of each of the first `nQueries` routed docs (its
    * own top-`topT` terms — deterministic, so the whole measurement
    * replays in SQL), and the scoring pass runs through the STAGED
    * serving tower — precomputed idf/avgdl enter as literals, dl rides
    * the posting, and the postings scan is pruned to the UNION of
    * the eval set's term buckets in ONE plan over the whole query
    * set (PlanSpec-locked: tb IN (...) in PartitionFilters — never a
    * full scan per query). Production evaluates retrieval against
    * the index it serves, not a parallel inline recompute; the
    * PipelineSpec drill pins staged ranks ≡ the inline r19 chain
    * over the same chunk corpus.
    *
    * Scale: a generation with a driver copy ([[ResidentTowers]])
    * derives the eval set and scores every query from the copy's
    * postings and runs no Spark job. Otherwise the eval-set
    * derivation is ONE offline job over the raw tf table (collected
    * as nQueries·topT strings — the r20 bounded-model-collect
    * contract); serving reads |union term buckets|/32 of the
    * postings, the per-query rank windows are qid-partitioned, and
    * nothing corpus-wide recomputes per query.
    */
  def r19StagedEval(t: Tables, nQueries: Int = 16, topT: Int = 3,
      k: Int = 5): DataFrame =
    stagedSelfEval(t.spark, ragRoot(t), nQueries, topT, k)

  /** The deterministic self-derived query set of a built root
    * (generate_questions.py's role): each of the first `nQueries`
    * docs' FIRST chunk asks its own top-`topT` terms, tie-broken
    * (tf desc, term) — a bounded nQueries·topT collect (the r20
    * model-collect contract). Shared by the staged self-eval and the
    * context-pack gate.
    *
    * Scale: one job over the raw tf table; a generation with a driver
    * copy derives the same rows from the copy's postings instead
    * ([[ResidentTowers.selfQuerySet]]), with no job.
    */
  private[graft] def selfQuerySet(tbl: Map[String, DataFrame],
      nQueries: Int, topT: Int): Seq[(Long, String)] = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy("qid").orderBy(col("tf").desc, col("term"))
    tbl("tf")
      .filter(col("chunk_id") % lit(1000000L) === 0 &&
        col("chunk_id") < lit(nQueries.toLong * 1000000L))
      .select(col("chunk_id").as("qid"), col("term"), col("tf"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= topT)
      .select("qid", "term")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  /** Per-(query, chunk) staged-BM25 scores of the query set in ONE
    * bucket-pruned plan (`tb IN (union of the set's term buckets)` —
    * PlanSpec-locked via its callers), with the candidate chunk's
    * token count (dl, riding the posting) carried when `withDl`. The
    * BM25 weights are the generation's literals, as in [[bm25Staged]].
    */
  private[graft] def selfQueryScores(snap: ServedTowers,
      qrows: Seq[(Long, String)], withDl: Boolean): DataFrame = {
    val spark = snap.spark
    import spark.implicits._
    val terms = qrows.map(_._2).distinct
    val buckets = terms.map(Search.termBucketOf(_, snap.nLex)).distinct
    val aggs =
      if (withDl) Seq(round(sum("contrib"), 4).as("score"),
        max("dl").as("n_tokens"))
      else Seq(round(sum("contrib"), 4).as("score"))
    Search.withBm25Contrib(
        snap.tables("tf_b")
          .filter(col("tb").isin(buckets.map(b => b: Any): _*)),
        snap.idf, snap.avgdl, terms)
      .join(broadcast(qrows.toDF("qid", "term")), "term")
      .groupBy("qid", "doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The staged self-retrieval eval of ANY built index root — shared
    * by the gated r19_staged and the `Graft.RagIndex.evalSelfRetrieval`
    * facade (a user evaluates the index they built). A generation with
    * a driver copy answers from it as a local frame with no Spark job;
    * otherwise [[stagedSelfEvalOnSpark]]'s plan serves.
    */
  private[graft] def stagedSelfEval(
      spark: org.apache.spark.sql.SparkSession, d: String,
      nQueries: Int, topT: Int, k: Int): DataFrame = {
    val snap = servedAt(spark, d)
    snap.resident.fold(selfEvalOnSpark(snap, nQueries, topT, k)) { r =>
      localFrame(spark, r.selfEval(r.selfQuerySet(nQueries, topT), k),
        evalSchema(k))
    }
  }

  /** [[stagedSelfEval]] through its Spark plan whatever the budget
    * says: the path of an index too large for the driver, and the
    * reference the driver copy is tested against.
    */
  private[graft] def stagedSelfEvalOnSpark(
      spark: org.apache.spark.sql.SparkSession, d: String,
      nQueries: Int, topT: Int, k: Int): DataFrame =
    selfEvalOnSpark(servedAt(spark, d), nQueries, topT, k)

  private def selfEvalOnSpark(snap: ServedTowers, nQueries: Int,
      topT: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = selfQueryScores(snap,
      selfQuerySet(snap.tables, nQueries, topT), withDl = false)
    val wr = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("n_cand", count(lit(1)).over(
        Window.partitionBy("qid")).cast("long"))
      .filter(col("doc_id") === col("qid"))
      .select(col("qid").as("query_chunk"), col("n_cand"), col("rank"),
        (floor(lit(1.0) / col("rank") * 10000 + 0.5) / 10000.0).as("rr"),
        (col("rank") <= k).cast("int").as(s"hit$k"))
      .orderBy("query_chunk")
  }

  /** The schema of a self-retrieval eval at cut `k`. */
  private[graft] def evalSchema(k: Int): StructType =
    StructType(Seq(StructField("query_chunk", LongType, nullable = false),
      StructField("n_cand", LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("rr", DoubleType),
      StructField(s"hit$k", IntegerType, nullable = false)))

  /** p4: TOKEN-BUDGET CONTEXT ASSEMBLY from the staged towers (the
    * reference agent's prompt-building step — search hits become the
    * LLM's context block, bounded by a token budget; reference:
    * zc_agent/main.py's answer loop assembling search_tool results
    * into the prompt): for each query of the self-derived set, take
    * the top-`kCand` staged-BM25 chunks, keep at most `maxPerDoc`
    * chunks per source doc (context diversity — a prompt of five
    * near-identical chunks from one doc wastes its budget), then
    * pack in (score desc, chunk_id) order while the running token
    * total fits `budget`. Emits the packed rows: (qid, rank,
    * chunk_id, src_doc, n_tokens, cum_tokens, score).
    *
    * Token counts are EXACT engine integers: a chunk's cost is its
    * dl (the tokenizer's own token count, already denormalized into
    * every posting), so the budget math replays in SQL without
    * re-tokenizing.
    *
    * Scale: a generation with a driver copy ([[ResidentTowers]])
    * scores each query from the copy's postings and packs its
    * ≤ kCand rows in a driver loop, with no Spark job. Otherwise
    * scoring is the staged one-plan pass ([[selfQueryScores]] —
    * postings scan pruned to the union of the query set's term
    * buckets), and every window after it is qid-partitioned over
    * ≤kCand rows per query (bounded — never a corpus-wide window).
    * The greedy prefix rule (stop at the first overflow) is the
    * SQL-replayable packing discipline.
    */
  def p4ContextPack(t: Tables, nQueries: Int = 16, topT: Int = 3,
      kCand: Int = 8, maxPerDoc: Int = 2, budget: Int = 120): DataFrame =
    contextPack(t.spark, ragRoot(t), nQueries, topT, kCand, maxPerDoc,
      budget)

  /** [[p4ContextPack]]'s core over any built root — also the
    * `RagIndex.packContext` facade's engine.
    */
  private[graft] def contextPack(
      spark: org.apache.spark.sql.SparkSession, d: String,
      nQueries: Int, topT: Int, kCand: Int, maxPerDoc: Int,
      budget: Int): DataFrame = {
    val snap = servedAt(spark, d)
    val qrows = snap.resident.fold(selfQuerySet(snap.tables, nQueries,
      topT))(_.selfQuerySet(nQueries, topT))
    packQueries(snap, qrows, kCand, maxPerDoc, budget)
  }

  /** Context packing for CALLER-supplied raw queries (qid = the
    * query's position in `queries`): the same scoring and the same
    * pack discipline as the gated p4, the engine's own tokenizer rule
    * on each query string.
    */
  private[graft] def contextPackFor(
      spark: org.apache.spark.sql.SparkSession, d: String,
      queries: Seq[String], kCand: Int, maxPerDoc: Int,
      budget: Int): DataFrame =
    packQueries(servedAt(spark, d), queryRows(queries), kCand, maxPerDoc,
      budget)

  /** (qid, term) rows of raw queries, qid = the query's position. */
  private[graft] def queryRows(queries: Seq[String]): Seq[(Long, String)] =
    // ONE query-tokenization rule engine-wide (Graft.tokenizeQuery,
    // Locale.ROOT): a default-locale toLowerCase would tokenize 'I'
    // differently on a tr-locale JVM and silently miss the postings
    // the engine's Spark-side lower() indexed
    queries.zipWithIndex.flatMap { case (q, i) =>
      graft.api.Graft.tokenizeQuery(q).distinct
        .map(term => (i.toLong, term))
    }

  /** The packs of `qrows`: from the generation's driver copy as a local
    * frame with no Spark job when it has one, else by
    * [[contextPackOnSpark]]'s plan.
    */
  private def packQueries(snap: ServedTowers, qrows: Seq[(Long, String)],
      kCand: Int, maxPerDoc: Int, budget: Int): DataFrame =
    snap.resident.fold(packOnSpark(snap, qrows, kCand, maxPerDoc,
        budget)) { r =>
      localFrame(snap.spark, r.pack(qrows, kCand, maxPerDoc, budget),
        packSchema)
    }

  /** The packs of `qrows` through the Spark plan whatever the budget
    * says: the path of an index too large for the driver, and the
    * reference the driver copy is tested against.
    */
  private[graft] def contextPackOnSpark(
      spark: org.apache.spark.sql.SparkSession, d: String,
      qrows: Seq[(Long, String)], kCand: Int, maxPerDoc: Int,
      budget: Int): DataFrame =
    packOnSpark(servedAt(spark, d), qrows, kCand, maxPerDoc, budget)

  private def packOnSpark(snap: ServedTowers, qrows: Seq[(Long, String)],
      kCand: Int, maxPerDoc: Int, budget: Int): DataFrame =
    packFromScores(selfQueryScores(snap, qrows, withDl = true), kCand,
      maxPerDoc, budget)

  /** The schema of a context pack's rows. */
  private[graft] val packSchema: StructType =
    StructType(Seq(StructField("qid", LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("chunk_id", LongType), StructField("src_doc", LongType),
      StructField("n_tokens", LongType), StructField("cum_tokens", LongType),
      StructField("score", DoubleType)))

  /** The pack discipline over a per-(qid, chunk) scores frame:
    * top-kCand cut, ≤maxPerDoc per source doc, greedy budget prefix
    * — three qid-partitioned window stages.
    */
  private[graft] def packFromScores(scores: DataFrame, kCand: Int,
      maxPerDoc: Int, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("doc_id"))
    val byDoc = Window.partitionBy("qid", "src_doc")
      .orderBy(col("score").desc, col("doc_id"))
    scores
      .withColumn("rn", row_number().over(byScore))
      .filter(col("rn") <= kCand)
      .withColumn("src_doc", floor(col("doc_id") / lit(1000000L)))
      .withColumn("rd", row_number().over(byDoc))
      .filter(col("rd") <= maxPerDoc)
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(
        byScore.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budget)
      .select(col("qid"), col("rank"), col("doc_id").as("chunk_id"),
        col("src_doc").cast("long").as("src_doc"), col("n_tokens"),
        col("cum_tokens"), col("score"))
      .orderBy("qid", "rank")
  }

  /** The query's `nProbe` coarse-list choice under the generation's
    * pinned codebook, shared by every dense tier's pruned scan: the
    * compiled ranking expression the build assigned with, evaluated
    * on the driver (a one-row job constant-folded the same call), so
    * list choice runs no job.
    */
  private[graft] def probeCidsOf(snap: ServedTowers, qU16: Seq[Long],
      nProbe: Int): Seq[Int] =
    graft.expressions.CentroidRanks(
        org.apache.spark.sql.catalyst.expressions.Literal(
          qU16.map(_.toDouble).toArray), snap.codebook)
      .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq.take(nProbe)

  /** The PRUNED dense top-`kList` of any built index root: the
    * integer dot scores ONLY the probed lists of the cid-partitioned
    * layout.
    */
  private[graft] def denseTop(snap: ServedTowers, qU16: Seq[Long],
      kList: Int, nProbe: Int): DataFrame = {
    val probeCids = probeCidsOf(snap, qU16, nProbe)
    snap.tables("enc_ivf")
      .filter(col("cid").isin(probeCids.map(c => c: Any): _*))
      .select(col("vec_id").as("doc_id"),
        aggregate(
          zip_with(col("u16"), typedlit(qU16),
            (a, b) => a.cast("long") * b),
          lit(0L), (acc, x) => acc + x).as("iscore"))
      .orderBy(col("iscore").desc, col("doc_id")).limit(kList)
      .select(col("doc_id"), col("iscore").cast("double").as("score"))
  }

  /** The schema of a hybrid search's hits. */
  private[graft] val searchSchema: StructType =
    StructType(Seq(StructField("chunk_id", LongType),
      StructField("rrf", DoubleType), StructField("r_lex", IntegerType),
      StructField("r_vec", IntegerType)))

  /** Hybrid serving over any built index root — p3's exact chain
    * (staged-BM25 tower + pruned quantized-dot tower, RRF-fused),
    * shared by the gated p3 and the `Graft.ragIndex` facade. A
    * generation with a driver copy ([[ServedTowers.resident]]) ranks
    * both towers' top-`kList` on the driver and runs no Spark job;
    * otherwise both lists come back in ONE action, tagged by tower.
    * [[rrfFuseRows]] fuses those ≤ 2·kList rows on the driver, and
    * the hits return as a local frame (its collect runs no job).
    */
  private[graft] def serveHybrid(
      spark: org.apache.spark.sql.SparkSession, d: String,
      terms: Seq[String], qU16: Seq[Long], kList: Int, kOut: Int,
      rrfK: Int, nProbe: Int, tier: String = "int16",
      overFetch: Int = 4): DataFrame = {
    val snap = servedAt(spark, d)
    val lists = snap.resident.fold(sparkHybridLists(snap, terms, qU16,
        kList, nProbe, tier, overFetch))(
      _.hybridLists(terms, qU16, kList, nProbe, tier, overFetch))
    localHits(spark, lists, kOut, rrfK)
  }

  /** [[serveHybrid]] through its Spark branch whatever the budget
    * says: the path of an index too large for the driver, and the
    * reference the driver copy is tested against.
    */
  private[graft] def serveHybridOnSpark(
      spark: org.apache.spark.sql.SparkSession, d: String,
      terms: Seq[String], qU16: Seq[Long], kList: Int, kOut: Int,
      rrfK: Int, nProbe: Int, tier: String,
      overFetch: Int): DataFrame =
    localHits(spark, sparkHybridLists(servedAt(spark, d), terms, qU16,
      kList, nProbe, tier, overFetch), kOut, rrfK)

  private def localHits(spark: org.apache.spark.sql.SparkSession,
      lists: Seq[Seq[(Long, Double)]], kOut: Int, rrfK: Int): DataFrame =
    localFrame(spark, rrfFuseRows(lists, kOut, rrfK), searchSchema)

  /** `rows` as a local frame: no operator on top, so its collect runs
    * no job.
    */
  private[operators] def localFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private[graft] def unknownTier(tier: String): Nothing =
    sys.error(s"unknown dense tier '$tier' " +
      "(int16 | sq8 | pq | sq8_rerank | pq_rerank)")

  /** Both towers' ranked top-`kList`, (BM25, dense), from one Spark
    * action.
    */
  private def sparkHybridLists(snap: ServedTowers, terms: Seq[String],
      qU16: Seq[Long], kList: Int, nProbe: Int, tier: String,
      overFetch: Int): Seq[Seq[(Long, Double)]] = {
    val lex = bm25Staged(snap, terms, kList)
    // the dense tower's quantization tier: every tier emits a
    // (doc_id, score)-ranked frame under the tower's inner-product
    // metric (rank order is all RRF consumes)
    val dense = tier match {
      case "int16" => denseTop(snap, qU16, kList, nProbe)
      case "sq8" => denseTopSq8(snap, qU16, kList, nProbe)
        .withColumnRenamed("ip_est", "score")
      case "pq" => denseTopPq(snap, qU16, kList, nProbe)
        .withColumnRenamed("ip_est", "score")
      case "sq8_rerank" =>
        denseTopRerank(snap, qU16, kList, nProbe, overFetch)
      case "pq_rerank" =>
        denseTopRerank(snap, qU16, kList, nProbe, overFetch, "pq")
      case other => unknownTier(other)
    }
    val rows = lex.select(lit(0).as("tower"), col("doc_id"), col("score"))
      .union(dense.select(lit(1).as("tower"), col("doc_id"), col("score")))
      .collect()
    Seq(0, 1).map(t => rows.toSeq.filter(_.getInt(0) == t)
      .map(r => (r.getLong(1), r.getDouble(2))))
  }

  /** Spark's descending double order (NaN first, -0.0 == 0.0), ids up:
    * how every ranked list of the serve path orders (score, id).
    */
  private[graft] def rankedBefore(a: (Long, Double),
      b: (Long, Double)): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(b._2, a._2)
    c < 0 || (c == 0 && a._1 < b._1)
  }

  /** `x` rounded half-up to `scale` places by Spark's own `Round`. */
  private[graft] def sparkRound(x: Double, scale: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
    Round(Literal(x), Literal(scale)).eval().asInstanceOf[Double]
  }

  /** [[graft.api.Graft.rrfFuse]] over driver-side ranked lists of
    * (id, score): each list ranks by (score desc, id), an id scores
    * Σ 1/(rrfK + rank) over the lists that hold it, rounded by
    * Spark's own `Round` to 6 places, and the top `k` by (rrf desc,
    * id) return as (id, rrf, rank in list 0, rank in list 1, …),
    * a rank null where the list lacks the id.
    */
  private[graft] def rrfFuseRows(lists: Seq[Seq[(Long, Double)]], k: Int,
      rrfK: Int): Seq[Row] = {
    val ranks = lists.map(_.sortWith(rankedBefore).map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap)
    lists.flatMap(_.map(_._1)).distinct.map { id =>
      val rs = ranks.map(_.get(id))
      val raw = rs.map(_.fold(0.0)(r => 1.0 / (rrfK + r))).reduce(_ + _)
      (id, sparkRound(raw, 6), rs)
    }.sortWith((a, b) => rankedBefore((a._1, a._2), (b._1, b._2))).take(k)
      .map { case (id, rrf, rs) =>
        Row.fromSeq(Seq[Any](id, rrf) ++ rs.map(_.map(Int.box).orNull))
      }
  }

  /** p3's replay: the shared build CTEs, the BM25 tower at kList=20,
    * and the PRUNED dense tower — stored codes re-derived from the
    * chunk text by the same md5 arithmetic (first FOUR hex chars =
    * the stored top 16 bits), the IVF training replayed end-to-end
    * (auto-sized list count from the live chunk count, the portable
    * md5 sample gate, three decimal-exact Lloyd's rounds —
    * [[Ann.kmeansReplayCteOver]]), the query's nProbe=8 list choice,
    * the exact integer dot ranked ONLY inside the probed lists, and
    * r18's RRF form.
    */
  /** The dense tower's shared replay: stored-code vectors (pvv), the
    * auto-sized list count + portable training sample, the coarse
    * k-means replay, the query's code (pq) and its nProbe=8 list
    * choice (ppr) — the prefix every staged-dense-tier oracle (p3,
    * p3_dense_sq8/pq/rerank) composes on.
    */
  private lazy val denseTowerCtes: String =
    s"""pvv AS (
      |  SELECT chunk_id AS vec_id,
      |    [CAST(CAST(('0x' || substr(md5(chunk || ':' || CAST(j AS INT)), 1, 4))
      |          AS BIGINT) AS DOUBLE)
      |     FOR j IN range(0, 64)] AS v
      |  FROM ch),
      |pnl AS (
      |  SELECT greatest(16, CAST(floor(sqrt(count(*)) + 0.5) AS INT)) AS nl,
      |    CAST(ceil(count(*) /
      |      (64.0 * greatest(16, CAST(floor(sqrt(count(*)) + 0.5) AS INT))))
      |      AS UBIGINT) AS m
      |  FROM pvv),
      |ptv AS (
      |  SELECT vec_id, v FROM pvv, pnl
      |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
      |             AS UBIGINT) % m = 0),
      |${Ann.kmeansReplayCteOver("pvv", "ptv", "(SELECT nl FROM pnl)")},
      |pq AS (
      |  SELECT [CAST(CAST(('0x' || substr(md5('spark filter join window group:' ||
      |            CAST(j AS INT)), 1, 4))
      |          AS BIGINT) AS DOUBLE)
      |     FOR j IN range(0, 64)] AS v),
      |ppr AS (
      |  SELECT cid FROM (
      |    SELECT cc.cid, row_number() OVER (ORDER BY
      |      list_dot_product(p.v, cc.cv) /
      |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
      |      cc.cid) AS rn
      |    FROM pq p, (SELECT cid, v AS cv FROM c3) cc) t
      |  WHERE rn <= 8)""".stripMargin

  private lazy val p3Sql: String =
    s"""WITH $ragCtes,
      |${chunkBm25Ctes(20)},
      |lr AS (SELECT chunk_id,
      |         row_number() OVER (ORDER BY score DESC, chunk_id) AS r_lex
      |       FROM serve),
      |$denseTowerCtes,
      |dn AS (
      |  SELECT af.vec_id AS chunk_id,
      |    CAST(list_dot_product(af.v, q.v) AS BIGINT) AS iscore
      |  FROM af JOIN ppr USING (cid), pq q
      |  ORDER BY iscore DESC, chunk_id LIMIT 20),
      |dr AS (SELECT chunk_id,
      |         row_number() OVER (ORDER BY iscore DESC, chunk_id) AS r_vec
      |       FROM dn)
      |SELECT chunk_id,
      |  round(COALESCE(1.0 / (60 + r_lex), 0) +
      |        COALESCE(1.0 / (60 + r_vec), 0), 6) AS rrf,
      |  r_lex, r_vec
      |FROM lr FULL OUTER JOIN dr USING (chunk_id)
      |ORDER BY rrf DESC, chunk_id LIMIT 10""".stripMargin

  /** Shared SQL fragments: the scored corpus (tokens + every stage
    * signal) and the five stage CTEs — the oracle replays the exact
    * expression trees the engine fuses.
    */
  private val stageCtes =
    """sc AS (
      |  SELECT doc_id, text,
      |    length(text) AS n_chars_t,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS tk
      |  FROM documents),
      |sc2 AS (
      |  SELECT *, len(tk) AS n_tok,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |      AS n_bpe,
      |    len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS s_de,
      |    len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS s_en,
      |    len(list_filter(tk, x -> x IN ('el','la','de','los','y'))) AS s_es,
      |    len(list_filter(tk, x -> x IN ('le','la','et','les','des'))) AS s_fr,
      |    len(list_filter(tk, x -> x IN ('de','le','shi','bu','wo'))) AS s_zh,
      |    CASE WHEN len(tk) >= 5 THEN
      |      list_distinct([array_to_string(tk[i:i+4], ' ')
      |                     FOR i IN range(1, greatest(len(tk) - 3, 1))])
      |    ELSE [] END AS sh
      |  FROM sc),
      |sc3 AS (
      |  SELECT *, CASE WHEN n_tok > 0 THEN
      |      floor((0.4 * least(n_chars_t / 500.0, 1.0) +
      |             0.3 * (len(list_distinct(tk)) / n_tok) +
      |             0.3 * (s_en / n_tok)) * 10000 + 0.5) / 10000.0
      |    END AS q_score
      |  FROM sc2),
      |st1 AS (SELECT * FROM sc3 WHERE n_tok > 0 AND q_score >= 0.35),
      |st2 AS (SELECT * FROM st1
      |  WHERE s_en = greatest(s_de, s_en, s_es, s_fr, s_zh)
      |    AND s_de <> greatest(s_de, s_en, s_es, s_fr, s_zh)),
      |st3 AS (SELECT * FROM st2 QUALIFY
      |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
      |st4 AS (
      |  SELECT * FROM (
      |    SELECT *, CASE WHEN len(sh) > 0
      |        THEN list_min([md5(s) FOR s IN sh]) END AS fingerprint
      |    FROM st3)
      |  QUALIFY fingerprint IS NULL OR
      |    row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
      |shf AS (SELECT doc_id, unnest(sh) AS s5 FROM sc2),
      |bench AS (SELECT DISTINCT s5 FROM shf WHERE doc_id % 97 = 0),
      |cont AS (SELECT DISTINCT shf.doc_id FROM shf JOIN bench USING (s5)
      |         WHERE shf.doc_id % 97 <> 0),
      |st5 AS (SELECT * FROM st4 WHERE doc_id % 97 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM cont))""".stripMargin

  /** The shared replay of p2's BUILD: classify (r1's CTEs), the
    * three normalize routes (r2 strip / r12 notebook markdown / r16
    * rewrite — each the named operator's own proven oracle
    * fragment), r4's chunk rule, and the chunk-granularity TF — the
    * prefix both p2's report and p3's serving replay share.
    */
  private lazy val ragCtes: String = ragCtesWhere("")

  /** [[ragCtes]] with a doc-level predicate applied at the source —
    * p5's oracle replays the whole build chain over the SURVIVING
    * corpus (remove ≡ rebuild-on-survivors is the operator's
    * contract, so the oracle IS the rebuild).
    */
  private def ragCtesWhere(where: String): String =
    """f AS (
      |  SELECT doc_id, source, lang, n_chars, text,
      |    CASE WHEN doc_id % 17 = 0 THEN 'repo-main/' || source || '/'
      |         ELSE 'repo-main/' || source || '/' ||
      |              CASE WHEN doc_id % 13 = 0 THEN '.' ELSE '' END ||
      |              'file_' || doc_id || '.' ||
      |              (['md','mdx','py','sql','java','ipynb','txt','png'])[CAST(doc_id % 8 AS INT) + 1]
      |    END AS filepath
      |  FROM documents """.stripMargin + where + """),
      |cl AS (
      |  SELECT *, regexp_extract(str_split(lower(filepath), '/')[-1],
      |                           '\.([^.]*)$', 1) AS ext,
      |    CASE WHEN filepath LIKE '%/' THEN 'skip_dir'
      |         WHEN str_split(lower(filepath), '/')[-1] LIKE '.%' THEN 'skip_hidden'
      |         WHEN regexp_extract(str_split(lower(filepath), '/')[-1], '\.([^.]*)$', 1)
      |              NOT IN ('md','mdx','py','sql','java','ipynb') THEN 'skip_ext'
      |         WHEN regexp_extract(str_split(lower(filepath), '/')[-1], '\.([^.]*)$', 1)
      |              IN ('md','mdx') THEN 'doc'
      |         ELSE 'code' END AS action
      |  FROM f),
      |docb AS (
      |  SELECT doc_id, regexp_replace(
      |    CASE WHEN doc_id % 3 = 0
      |         THEN '---' || chr(10) || 'title: doc ' || doc_id || chr(10) ||
      |              'tags: t' || (doc_id % 5) || chr(10) ||
      |              'author: a' || (doc_id % 7) || chr(10) || '---' || chr(10) || text
      |         ELSE text END,
      |    '(?s)^---\n.*?\n---\n', '') AS body
      |  FROM cl WHERE action = 'doc'),
      |nbj AS (
      |  SELECT doc_id,
      |    '{"cells":[{"cell_type":"markdown","source":"# doc ' || doc_id ||
      |    '\nlen=' || n_chars || '"},{"cell_type":"code","source":"print(''' ||
      |    md5(text) || ''')"},{"cell_type":"raw","source":"no-export"},' ||
      |    '{"cell_type":"code","source":"x = ' || (doc_id % 7) || '"}]}' AS j
      |  FROM cl WHERE action = 'code' AND ext = 'ipynb'),
      |nbc AS (
      |  SELECT doc_id,
      |    [json_extract_string(j, '$.cells[' || CAST(i AS INT) || '].cell_type')
      |     FOR i IN range(0, CAST(json_array_length(j, '$.cells') AS BIGINT))] AS types,
      |    [json_extract_string(j, '$.cells[' || CAST(i AS INT) || '].source')
      |     FOR i IN range(0, CAST(json_array_length(j, '$.cells') AS BIGINT))] AS srcs
      |  FROM nbj),
      |nbb AS (
      |  SELECT doc_id, array_to_string(
      |    [CASE WHEN types[CAST(i AS INT)] = 'code'
      |          THEN '```python' || chr(10) || srcs[CAST(i AS INT)] || chr(10) || '```'
      |          ELSE srcs[CAST(i AS INT)] END
      |     FOR i IN range(1, len(types) + 1)
      |     IF types[CAST(i AS INT)] IN ('markdown', 'code')],
      |    chr(10) || chr(10)) AS body
      |  FROM nbc),
      |codeb AS (
      |  SELECT doc_id,
      |    '# ' || lang || chr(10) || array_to_string(tk[1:12], ' ') ||
      |    chr(10) || '(rewritten)' AS body
      |  FROM (SELECT doc_id, lang,
      |          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                      x -> x <> '') AS tk
      |        FROM cl WHERE action = 'code' AND ext <> 'ipynb')),
      |routed AS (
      |  SELECT * FROM docb UNION ALL SELECT * FROM nbb
      |  UNION ALL SELECT * FROM codeb),
      |ch AS (
      |  SELECT doc_id * 1000000 + start AS chunk_id,
      |    substring(body, CAST(start AS INT) + 1, 200) AS chunk
      |  FROM (SELECT doc_id, body, unnest(range(0, length(body), 100)) AS start
      |        FROM routed WHERE length(body) > 0) o
      |  WHERE start = 0 OR start - 100 + 200 <= length(body)),
      |ctok AS (
      |  SELECT chunk_id, t AS term FROM (
      |    SELECT chunk_id,
      |      unnest(regexp_split_to_array(lower(chunk), '[^a-z0-9]+')) AS t
      |    FROM ch) u
      |  WHERE t <> ''),
      |ctf AS (SELECT chunk_id, term, count(*) AS tf FROM ctok
      |        GROUP BY chunk_id, term)""".stripMargin

  /** r8's BM25 chain replayed at chunk granularity over [[ragCtes]]'
    * `ctf`, top-`k` cut — p2's serving row and p3's lexical tower.
    */
  private def chunkBm25Ctes(k: Int): String =
    s"""cdl AS (SELECT chunk_id, sum(tf) AS dl FROM ctf GROUP BY chunk_id),
      |cstats AS (SELECT avg(dl) AS avgdl, count(*) AS nd FROM cdl),
      |cd AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
      |cidf AS (SELECT term, ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf_bm
      |         FROM cd, cstats),
      |cq AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
      |cc AS (SELECT ctf.chunk_id,
      |         cidf.idf_bm * ctf.tf * 2.2 /
      |           (ctf.tf + 1.2 * (0.25 + 0.75 * cdl.dl / cstats.avgdl)) AS contrib
      |       FROM ctf JOIN cq USING (term) JOIN cidf USING (term)
      |            JOIN cdl USING (chunk_id), cstats),
      |serve AS (SELECT chunk_id, round(sum(contrib), 4) AS score FROM cc
      |          GROUP BY chunk_id ORDER BY score DESC, chunk_id LIMIT $k)""".stripMargin

  private lazy val p2Sql: String =
    s"""WITH $ragCtes,
      |${chunkBm25Ctes(5)},
      |uenc AS (
      |  SELECT chunk_id,
      |    CAST(list_sum(
      |      [CAST(('0x' || substr(md5(chunk || ':' || CAST(j AS INT)), 1, 8))
      |            AS UBIGINT)
      |       FOR j IN range(0, 64)]) AS BIGINT) AS u_sum
      |  FROM ch)
      |SELECT * FROM (
      |  SELECT 0 AS ord, 'input' AS stage, count(*) AS n_rows,
      |    CAST(sum(length(text)) AS BIGINT) AS aux FROM documents
      |  UNION ALL
      |  SELECT 1, 'classify',
      |    CAST(sum(CASE WHEN action IN ('doc','code') THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN action IN ('doc','code') THEN 0 ELSE 1 END) AS BIGINT)
      |  FROM cl
      |  UNION ALL
      |  SELECT 2, 'normalize', count(*), CAST(sum(length(body)) AS BIGINT)
      |  FROM routed
      |  UNION ALL
      |  SELECT 3, 'chunk', count(*), CAST(sum(length(chunk)) AS BIGINT) FROM ch
      |  UNION ALL
      |  SELECT 4, 'tf_index', count(*),
      |    CAST(count(DISTINCT term) AS BIGINT) FROM ctf
      |  UNION ALL
      |  SELECT 5, 'dense_index', count(*), CAST(sum(u_sum) AS BIGINT) FROM uenc
      |  UNION ALL
      |  SELECT 6, 'serving', count(*), CAST(sum(chunk_id) AS BIGINT) FROM serve)
      |ORDER BY ord""".stripMargin

  /** p5's replay: the whole build chain over the SURVIVING corpus
    * (`documents WHERE doc_id % 7 <> 3`) — the oracle IS the
    * remove ≡ rebuild-on-survivors contract. Same fragments as
    * [[p2Sql]]; only the source predicate differs.
    */
  private lazy val p5Sql: String =
    s"""WITH ${ragCtesWhere("WHERE doc_id % 7 <> 3")},
      |${chunkBm25Ctes(5)},
      |uenc AS (
      |  SELECT chunk_id,
      |    CAST(list_sum(
      |      [CAST(('0x' || substr(md5(chunk || ':' || CAST(j AS INT)), 1, 8))
      |            AS UBIGINT)
      |       FOR j IN range(0, 64)]) AS BIGINT) AS u_sum
      |  FROM ch)
      |SELECT * FROM (
      |  SELECT 0 AS ord, 'routed' AS stage, count(*) AS n_rows,
      |    CAST(sum(length(body)) AS BIGINT) AS aux FROM routed
      |  UNION ALL
      |  SELECT 1, 'chunks', count(*), CAST(sum(length(chunk)) AS BIGINT)
      |  FROM ch
      |  UNION ALL
      |  SELECT 2, 'tf_index', count(*),
      |    CAST(count(DISTINCT term) AS BIGINT) FROM ctf
      |  UNION ALL
      |  SELECT 3, 'dense_index', count(*), CAST(sum(u_sum) AS BIGINT)
      |  FROM uenc
      |  UNION ALL
      |  SELECT 4, 'stats', (SELECT count(*) FROM cdl),
      |    (SELECT CAST(sum(dl) AS BIGINT) FROM cdl)
      |  UNION ALL
      |  SELECT 5, 'vocab', count(*), CAST(sum(df) AS BIGINT) FROM cd
      |  UNION ALL
      |  SELECT 6, 'serving', count(*), CAST(sum(chunk_id) AS BIGINT)
      |  FROM serve)
      |ORDER BY ord""".stripMargin

  /** st25's replay: the forget stream's final state ≡ the build
    * chain over the never-forgotten docs (the remove contract under
    * continuous arrivals — waves of deletes commute to one set
    * difference); the gate serves the standard query from it.
    */
  private[graft] lazy val st25Sql: String =
    s"""WITH ${ragCtesWhere("WHERE doc_id % 5 <> 1")},
      |${chunkBm25Ctes(5)}
      |SELECT chunk_id, score FROM serve""".stripMargin

  /** r19_staged's replay: the shared build CTEs + the staged-BM25
    * stats/idf fragments ([[chunkBm25Ctes]] — its cq/cc/serve tail
    * is unused here), the deterministic eval-set derivation, the
    * scoring join, and the per-query rank/reciprocal-rank report.
    */
  private lazy val r19StagedSql: String =
    s"""WITH $ragCtes,
      |${chunkBm25Ctes(5)},
      |qt AS (
      |  SELECT qid, term FROM (
      |    SELECT chunk_id AS qid, term,
      |      row_number() OVER (PARTITION BY chunk_id
      |                         ORDER BY tf DESC, term) AS rn
      |    FROM ctf
      |    WHERE chunk_id % 1000000 = 0 AND chunk_id < 16000000) z
      |  WHERE rn <= 3),
      |esc AS (
      |  SELECT qt.qid, ctf.chunk_id AS doc_id,
      |    round(sum(cidf.idf_bm * ctf.tf * 2.2 /
      |      (ctf.tf + 1.2 * (0.25 + 0.75 * cdl.dl / cstats.avgdl))), 4)
      |      AS score
      |  FROM ctf JOIN qt USING (term) JOIN cidf USING (term)
      |       JOIN cdl USING (chunk_id), cstats
      |  GROUP BY qt.qid, ctf.chunk_id),
      |erk AS (
      |  SELECT qid, doc_id,
      |    row_number() OVER (PARTITION BY qid
      |                       ORDER BY score DESC, doc_id) AS rank,
      |    count(*) OVER (PARTITION BY qid) AS n_cand
      |  FROM esc)
      |SELECT qid AS query_chunk, n_cand, rank,
      |  floor(1.0 / rank * 10000 + 0.5) / 10000.0 AS rr,
      |  CAST(rank <= 5 AS INT) AS hit5
      |FROM erk WHERE doc_id = qid ORDER BY query_chunk""".stripMargin

  /** p4's replay: r19_staged's eval-set + scoring fragments with the
    * chunk's dl carried through, then the pack discipline — top-kCand
    * cut, per-doc diversity cap, greedy budget prefix — as three
    * window stages (exactly the Spark plan's shape).
    */
  private lazy val p4Sql: String =
    s"""WITH $ragCtes,
      |${chunkBm25Ctes(5)},
      |qt AS (
      |  SELECT qid, term FROM (
      |    SELECT chunk_id AS qid, term,
      |      row_number() OVER (PARTITION BY chunk_id
      |                         ORDER BY tf DESC, term) AS rn
      |    FROM ctf
      |    WHERE chunk_id % 1000000 = 0 AND chunk_id < 16000000) z
      |  WHERE rn <= 3),
      |esc AS (
      |  SELECT qt.qid, ctf.chunk_id AS doc_id,
      |    round(sum(cidf.idf_bm * ctf.tf * 2.2 /
      |      (ctf.tf + 1.2 * (0.25 + 0.75 * cdl.dl / cstats.avgdl))), 4)
      |      AS score,
      |    max(cdl.dl) AS n_tokens
      |  FROM ctf JOIN qt USING (term) JOIN cidf USING (term)
      |       JOIN cdl USING (chunk_id), cstats
      |  GROUP BY qt.qid, ctf.chunk_id),
      |cand AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id) AS rn FROM esc) z
      |  WHERE rn <= 8),
      |div AS (
      |  SELECT * FROM (
      |    SELECT *, doc_id // 1000000 AS src_doc,
      |      row_number() OVER (PARTITION BY qid, doc_id // 1000000
      |        ORDER BY score DESC, doc_id) AS rd FROM cand) z
      |  WHERE rd <= 2),
      |pack AS (
      |  SELECT qid, doc_id, src_doc, n_tokens, score,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id) AS rank,
      |    sum(n_tokens) OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING)
      |      AS cum_tokens
      |  FROM div)
      |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id AS chunk_id,
      |  CAST(src_doc AS BIGINT) AS src_doc,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(cum_tokens AS BIGINT) AS cum_tokens, score
      |FROM pack WHERE cum_tokens <= 120
      |ORDER BY qid, rank""".stripMargin

  /** SQ8 tier replay over the stored-code space: s13's model-fit /
    * code / asymmetric-score fragments re-sourced from pvv, pruned
    * to the query's probed lists (cand8). Shared by the sq8 and
    * rerank oracles.
    */
  private lazy val sq8Ctes: String =
    s"""mm8 AS (
      |  SELECT i, min(v[CAST(i AS INT)]) AS mn, max(v[CAST(i AS INT)]) AS mx
      |  FROM pvv, (SELECT unnest(range(1, 65)) AS i) ii
      |  GROUP BY i),
      |c8 AS (
      |  SELECT vec_id, i, mn, (mx - mn) / 256 AS sc,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(LEAST(255.0, GREATEST(0.0,
      |           floor((v[CAST(i AS INT)] - mn) / ((mx - mn) / 256)))) AS INT)
      |    END AS code
      |  FROM pvv CROSS JOIN mm8),
      |q8 AS (SELECT CAST(i AS INT) AS i, p.v[CAST(i AS INT)] AS qx
      |       FROM pq p, (SELECT unnest(range(1, 65)) AS i) ii),
      |cand8 AS (SELECT af.vec_id FROM af JOIN ppr USING (cid)),
      |d8 AS (
      |  SELECT c8.vec_id, floor(list_sum(list(
      |    q8.qx * (c8.mn + (c8.code + 0.5) * c8.sc) ORDER BY c8.i))
      |    * 10000 + 0.5) / 10000.0 AS ip_est
      |  FROM c8 JOIN cand8 USING (vec_id) JOIN q8 USING (i)
      |  GROUP BY c8.vec_id)""".stripMargin

  private lazy val p3Sq8Sql: String =
    s"""WITH $ragCtes,
      |$denseTowerCtes,
      |$sq8Ctes
      |SELECT vec_id AS chunk_id, ip_est FROM d8
      |ORDER BY ip_est DESC, chunk_id LIMIT 10""".stripMargin

  private lazy val p3RerankSql: String =
    s"""WITH $ragCtes,
      |$denseTowerCtes,
      |$sq8Ctes,
      |sh AS (SELECT vec_id FROM d8 ORDER BY ip_est DESC, vec_id LIMIT 40),
      |rr AS (SELECT pvv.vec_id,
      |         CAST(list_dot_product(pvv.v, p.v) AS BIGINT) AS iscore
      |       FROM pvv JOIN sh USING (vec_id), pq p)
      |SELECT vec_id AS chunk_id, CAST(iscore AS DOUBLE) AS score
      |FROM rr ORDER BY iscore DESC, chunk_id LIMIT 10""".stripMargin

  /** PQ tier replay: s5's per-subspace Lloyd's (seed + 2 rounds)
    * trained on pvv, the query's ADC tables derived from the trained
    * codebooks, the lookup-sum estimate over the probed lists —
    * s9's oracle pattern restricted to the staged layout.
    */
  /** The PQ tier's shared replay fragment: s5's per-subspace Lloyd's
    * trained on pvv, the query's ADC tables, and a `pqest` CTE of
    * (vec_id, ip_est) over the probed lists — composed by the pq and
    * pq_rerank oracles.
    */
  private lazy val pqEstCtes: String = {
    val sub = graft.operators.Embed.dim / pqM
    val subs = (0 until pqM)
      .map(mi => Ann.pqSubspaceCte(mi, sub, pqK, pqIters, src = "pvv"))
      .mkString(",\n")
    val dts = (0 until pqM).map { mi =>
      val off = mi * sub
      s"""qdt$mi AS (
         |  SELECT c.cid, list_dot_product(p.sv, c.cv) AS dd
         |  FROM (SELECT v[${off + 1}:${off + sub}] AS sv FROM pq) p,
         |       c${mi}_$pqIters c)""".stripMargin
    }.mkString(",\n")
    val eJoins = (1 until pqM)
      .map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val tJoins = (0 until pqM)
      .map(mi => s"JOIN qdt$mi t$mi ON t$mi.cid = e$mi.code$mi")
      .mkString(" ")
    val estSum = (0 until pqM).map(mi => s"t$mi.dd").mkString(" + ")
    s"""$subs,
       |$dts,
       |pqest AS (
       |  SELECT e0.vec_id,
       |    floor(($estSum) * 10000 + 0.5) / 10000.0 AS ip_est
       |  FROM e0 $eJoins $tJoins
       |  JOIN af ON af.vec_id = e0.vec_id
       |  JOIN ppr ON ppr.cid = af.cid)""".stripMargin
  }

  private lazy val p3PqSql: String =
    s"""WITH $ragCtes,
       |$denseTowerCtes,
       |$pqEstCtes
       |SELECT vec_id AS chunk_id, ip_est FROM pqest
       |ORDER BY ip_est DESC, chunk_id LIMIT 10""".stripMargin

  /** pq_rerank's replay: the ADC estimate shortlists 4x10 by
    * (ip_est desc, vec_id), then ONLY the shortlist pays the exact
    * integer dot — p3RerankSql's refine stage over the PQ tier.
    */
  private lazy val p3PqRerankSql: String =
    s"""WITH $ragCtes,
       |$denseTowerCtes,
       |$pqEstCtes,
       |shp AS (SELECT vec_id FROM pqest
       |        ORDER BY ip_est DESC, vec_id LIMIT 40),
       |rrp AS (SELECT pvv.vec_id,
       |          CAST(list_dot_product(pvv.v, p.v) AS BIGINT) AS iscore
       |        FROM pvv JOIN shp USING (vec_id), pq p)
       |SELECT vec_id AS chunk_id, CAST(iscore AS DOUBLE) AS score
       |FROM rrp ORDER BY iscore DESC, chunk_id LIMIT 10""".stripMargin

  lazy val oracle: Map[String, String] = Map(
    "p2_rag_ingest" -> p2Sql,
    "p3_rag_serve" -> p3Sql,
    "p5_index_remove" -> p5Sql,
    "p4_context_pack" -> p4Sql,
    "r19_staged_eval" -> r19StagedSql,
    "p3_dense_sq8" -> p3Sq8Sql,
    "p3_dense_pq" -> p3PqSql,
    "p3_dense_rerank" -> p3RerankSql,
    "p3_dense_pq_rerank" -> p3PqRerankSql,
    // the full funnel replayed: every stage signal from the shared
    // scored CTE, six per-stage aggregates, n_in threaded by hand
    "p1_curation_funnel" ->
      s"""WITH $stageCtes,
         |c0 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM sc2),
         |c1 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM st1),
         |c2 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM st2),
         |c3 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM st3),
         |c4 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM st4),
         |c5 AS (SELECT count(*) AS n,
         |  CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS tk FROM st5)
         |SELECT * FROM (
         |  SELECT 0 AS ord, 'input' AS stage, c0.n AS n_in,
         |    c0.n AS n_out, c0.n - c0.n AS n_dropped, c0.tk AS toks_out
         |  FROM c0
         |  UNION ALL SELECT 1, 'quality', c0.n, c1.n, c0.n - c1.n, c1.tk
         |  FROM c0, c1
         |  UNION ALL SELECT 2, 'language', c1.n, c2.n, c1.n - c2.n, c2.tk
         |  FROM c1, c2
         |  UNION ALL SELECT 3, 'exact_dedup', c2.n, c3.n, c2.n - c3.n, c3.tk
         |  FROM c2, c3
         |  UNION ALL SELECT 4, 'near_dedup', c3.n, c4.n, c3.n - c4.n, c4.tk
         |  FROM c3, c4
         |  UNION ALL SELECT 5, 'decontaminate', c4.n, c5.n, c4.n - c5.n, c5.tk
         |  FROM c4, c5)
         |ORDER BY ord""".stripMargin
  )
}
