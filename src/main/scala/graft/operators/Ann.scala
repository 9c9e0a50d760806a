package graft.operators

import graft.Tables
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Scale design: the probe vector is a broadcast 1-row aggregate (the
  * only `first()`-free way to get "the row with vec_id = p" into every
  * task without a driver collect). Brute force (s1) is one scan with a
  * compiled cosine per row + a top-k sort — the exact baseline. The
  * LSH variant (s2) prunes with a 512-bit sketch-Hamming cut BEFORE
  * computing any cosine (XOR+popcount ≈ 100× cheaper per row); the
  * IVF variant (s3) k-means-trains a coarse codebook and scans only
  * the probe's nProbe nearest lists. At cluster scale the sketch is
  * an ingest-time column, the lists a write-once partition key.
  */
object Ann {

  /** s1: exact top-10 cosine neighbors of probe vector (vec_id=0). */
  def s1AnnBruteforce(t: Tables, probeId: Long = 0L): DataFrame = {
    val probe = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("pv"))
    t.embeddings.filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Vectors.cosine(col("v"), col("pv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** s2: LSH bit-sketch ANN (*rows-only oracle*; recall vs s1 is
    * spec'd in ScalaTest). Every vector carries a 512-bit
    * signed-random-projection sketch (Charikar: E[Hamming]/bits =
    * θ/π, so sketch Hamming estimates the angle); candidates = rows
    * with sketch Hamming ≤ tau from the probe's sketch, and only
    * those pay the exact O(d) cosine. tau = 225 ≈ 512·acos(0.25)/π
    * minus ~2.8σ of the binomial spread — measured recall@10 = 1.0
    * at both sf0.01 and sf0.1 while exact-scanning ~10% of the
    * corpus; the XOR-popcount prefilter is ~100× cheaper per row
    * than the float cosine. At cluster scale the sketch column is
    * precomputed once at ingest (a pure projection) and the scan is
    * further pruned by Dedup's band buckets written as a bucketed
    * table.
    *
    * `tau < 0` (the default) derives the cut from `sketchBits` via
    * [[defaultTau]] CAPPED by the candidate-bounded cut
    * ([[tauFor]] against the MEASURED corpus count): the width-
    * derived cut admits a roughly constant ~10% FRACTION of the
    * corpus, so the exact-cosine tail would grow linearly with n per
    * query — tauFor instead holds the expected bulk-candidate COUNT
    * at ~max(1024, 64·k), so the per-query exact work stays flat as
    * the corpus grows (the lshConfigFor pattern). At sandbox scale
    * the count bound is looser than the width bound, so the cut —
    * and the pinned oracle — are unchanged; the count is a parquet
    * metadata read at lake scale, not a scan.
    */
  def s2AnnLsh(t: Tables, probeId: Long = 0L, sketchBits: Int = 512,
      tau: Int = -1): DataFrame = {
    val cut =
      if (tau >= 0) tau
      else math.min(defaultTau(sketchBits),
        // 64 candidates per returned neighbor (s2's fixed top-10),
        // floored at 1024 — the exact-verify budget per query
        tauFor(sketchBits, embeddingCount(t),
          target = math.max(1024L, 64L * 10)))
    val sigs = Dedup.hyperplaneSig(
      t.embeddings.select("vec_id", "embedding"), sketchBits)
    val probe = sigs.filter(col("vec_id") === probeId)
      .select(col("sig").as("psig"), col("v").as("pv"))
    sigs.filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .filter(Vectors.hamming(col("sig"), col("psig")) <= cut)
      .select(col("vec_id"),
        round(Vectors.cosine(col("v"), col("pv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Default s2 Hamming cut for a `bits`-wide sketch: unrelated pairs
    * sit at Hamming ≈ bits/2 with binomial spread σ = √bits/2; the
    * cut bits/2 − round(2.75σ) admits near neighbors (whose expected
    * Hamming is bits·θ/π, well below bits/2 for any θ < π/2) while
    * excluding ~all of the random bulk. For bits = 512 this is the
    * measured-recall-1.0 cut 225; any other width scales the same way
    * instead of inheriting a 512-calibrated constant.
    */
  private[graft] def defaultTau(bits: Int): Int =
    bits / 2 - math.round(2.75 * math.sqrt(bits.toDouble) / 2).toInt

  /** P[Binomial(bits, ½) ≤ tau] — the fraction of an isotropic bulk a
    * Hamming cut admits. Exact (log-space running binomial), bits up
    * to a few thousand; tails below double underflow read as 0, which
    * only makes the derived cut conservative.
    */
  private[graft] def hammingCdf(bits: Int, tau: Int): Double = {
    val ln2 = math.log(2.0)
    var logc = 0.0
    var cdf = math.exp(-bits * ln2)
    var i = 0
    while (i < tau) {
      i += 1
      logc += math.log((bits - i + 1).toDouble / i)
      cdf += math.exp(logc - bits * ln2)
    }
    cdf
  }

  /** The s2 candidate cut REPLAYED IN SQL — the oracle must derive
    * its Hamming cut from the SAME `min(defaultTau, tauFor)` math the
    * engine applies, or the two sides drift apart exactly when the
    * count bound takes over (~3e5 embeddings at 512 bits): the
    * binomial CDF values are literals generated by the SAME
    * [[hammingCdf]] the engine evaluates (bit-identical doubles via
    * round-trip string casts), the corpus count is read at oracle-RUN
    * time, and the `n * cdf <= target` comparison is the same IEEE
    * double multiply in both engines — so the admitted τ matches at
    * every scale, not just below the crossover.
    */
  private def tauCutSql(bits: Int, target: Long): String = {
    val rows = ((bits / 4 + 1) to (bits / 2)).map(tau =>
      s"($tau, CAST('${hammingCdf(bits, tau)}' AS DOUBLE))")
      .mkString(", ")
    s"""cdfs(tau, cdf) AS (VALUES $rows),
       |cut AS (
       |  SELECT LEAST(${defaultTau(bits)}, coalesce(
       |    (SELECT max(tau)
       |     FROM cdfs, (SELECT count(*) AS n FROM embeddings) nn
       |     WHERE n * cdf <= $target.0), ${bits / 4})) AS cut)""".stripMargin
  }

  /** CANDIDATE-BOUNDED Hamming cut: the largest τ whose expected
    * random-bulk admission n · P[Binom(bits, ½) ≤ τ] stays at-or-under
    * `target` candidates per query. Unlike [[defaultTau]] (a constant
    * FRACTION of the corpus — linear exact-tail growth), this holds
    * the exact-verify COUNT flat as n grows: 10× the corpus costs
    * ~√bits·ln(10)/2 fewer Hamming bits of slack, not 10× the cosine
    * work. Floored at bits/4 — a cut below that is tighter than any
    * useful neighbor band, the signal to route to the IVF/PQ towers
    * (s3/s9) instead.
    */
  private[graft] def tauFor(bits: Int, n: Long, target: Long): Int = {
    val floor = bits / 4
    var best = floor
    var tau = floor
    while (tau < bits / 2 &&
        n.toDouble * hammingCdf(bits, tau + 1) <= target.toDouble) {
      tau += 1; best = tau
    }
    best
  }

  /** Train an IVF coarse codebook with Lloyd's k-means (cosine
    * assignment, mean update): deterministic seeded init (the first
    * nLists vectors by id), per-iteration assignment is the compiled
    * CentroidRanks PROJECTION (no join), and the centroid update
    * aggregates in DECIMAL so the result is bit-stable under any
    * partitioning. The collected model is nLists × dim doubles — a
    * model constant like the LSH plane matrix, not a data collect.
    * At 100 TB training runs once offline and the codebook is stored;
    * serving reuses it exactly as below.
    */
  private[graft] def trainCodebook(vecs0: DataFrame, nLists: Int,
      dim: Int = 64, iters: Int = 3): graft.expressions.PlaneMatrix = {
    // the training set is read by `iters + 1` sequential actions
    // (seed collect + one aggregate per Lloyd's round) — persist it
    // for the duration of THIS call so the rounds re-read a
    // materialized frame instead of re-running the upstream scan +
    // projection (sample-gate filter, u16→double transform) every
    // round; unpersisted before returning (an in-call intermediate,
    // not a cross-query cache). Bit-identical math — only the input's
    // physical source changes. A frame the CALLER already cached is
    // the caller's to own: it is read as-is and its cache survives.
    val owned = vecs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val vecs =
      if (owned) vecs0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else vecs0
    try {
    // seed = the FIRST nLists vectors in id order (TakeOrdered — no
    // assumption that ids start at 0 or are dense; a filter(id <
    // nLists) would silently shrink the codebook on sparse ids)
    val init = vecs.orderBy("vec_id").limit(nLists).select("v").collect()
    var cents: Array[Double] = init.flatMap(
      _.getSeq[Double](0).padTo(dim, 0.0).toArray)
    for (_ <- 1 to iters) {
      val cb = new graft.expressions.PlaneMatrix(cents, dim)
      val sums = vecs
        .select(Vectors.centroidTop1(col("v"), cb).as("cid"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 15)))
          .as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.clone()
      sums.foreach { r =>
        val cid = r.getAs[Int]("cid"); val pos = r.getAs[Int]("pos")
        next(cid * dim + pos) =
          (r.getAs[java.math.BigDecimal]("s").doubleValue / r.getAs[Long]("n"))
      }
      cents = next
    }
    new graft.expressions.PlaneMatrix(cents, dim)
    } finally if (owned) vecs.unpersist(false)
  }

  /** s3: IVF-flat ANN (*rows-only oracle*; recall spec'd in tests).
    * k-means-trained coarse codebook (see [[trainCodebook]]); list
    * assignment is a compiled pure PROJECTION against the codebook
    * constant — no join, no window, no Exchange keyed by vec_id
    * (PlanSpec-locked); the probe scans only its `nProbe` nearest
    * lists. At 100 TB the assignment is a write-once partition
    * column and a probe touches ~nProbe/nLists of the data.
    */
  /** Train-once-per-corpus codebook registry: the docstring's own
    * serving model is an OFFLINE-trained codebook reused by every
    * probe, so repeated s3 calls against the same corpus must not
    * re-run Lloyd's (3 full scans + a driver collect each). Keyed by
    * the FULL training input — (corpus dir, nLists, dim, iters) — so
    * a call with a different shape never reuses a mismatched model;
    * bounded by the handful of (corpus, shape) combinations a process
    * serves. ASSUMES the data under `dir` is immutable for the JVM's
    * lifetime (the lake-snapshot contract every trained-model cache
    * makes); a pipeline that rewrites a corpus path in-process must
    * restart or clear this registry.
    */
  private val codebooks = scala.collection.mutable
    .Map[(String, Int, Int, Int), graft.expressions.PlaneMatrix]()

  /** Measured-once corpus count per dir (the codebooks registries'
    * immutable-corpus contract): a serving call must not re-pay a
    * count job per query just to size its candidate cut.
    */
  private val corpusCounts = scala.collection.mutable.Map[String, Long]()

  private def embeddingCount(t: Tables): Long = corpusCounts.synchronized {
    corpusCounts.getOrElseUpdate(t.dir,
      { graft.Registries.bump(); t.embeddings.count() })
  }

  /** HASH-SAMPLED codebook training — the offline-model cost bought
    * down for corpora where full-corpus Lloyd's is the wrong price:
    * k-means is O(n·k·d·iters), and with the √n list count the full
    * scan cost grows n^1.5 (measured: 6.5 s at 2k/45 lists → 232 s at
    * 200k/447 — §5). A coarse quantizer's cell boundaries stop moving
    * beyond ~dozens of training points per centroid, so training runs
    * on a DETERMINISTIC hash sample of ~`perCentroid`·nLists vectors:
    * the top 32 md5 bits of the id mod m = 0, with m = ⌈n/target⌉ —
    * one pushdown-friendly scan, no sort, no RNG, reproducible across
    * sessions (the versioned-model contract needs the same inputs to
    * train the same model). md5 rather than Spark's murmur3 `hash` so
    * the sample is ENGINE-PORTABLE: a DuckDB oracle replays the same
    * membership as `('0x'||substr(md5(id),1,8))::UBIGINT % m` (p3's
    * dense-tower replay depends on this). `n` is the MEASURED corpus
    * count the caller already holds (the ivfConfigFor contract).
    * Corpora at-or-under the target train on everything (m = 1) —
    * sandbox-scale behavior (and every pinned-oracle path) is
    * unchanged.
    */
  private[graft] def trainCodebookSampled(vecs: DataFrame, nLists: Int,
      n: Long, dim: Int = 64, iters: Int = 3,
      perCentroid: Int = 64): graft.expressions.PlaneMatrix = {
    val target = perCentroid.toLong * nLists
    val m = math.ceil(n.toDouble / math.max(1L, target)).toLong
    if (m <= 1L) trainCodebook(vecs, nLists, dim, iters)
    else trainCodebook(vecs.filter(sampleGate(col("vec_id"), m)),
      nLists, dim, iters)
  }

  /** The portable sampling predicate [[trainCodebookSampled]] gates
    * on: top 32 md5 bits of the id's decimal string, mod `m` — exact
    * integers in both engines.
    */
  private[graft] def sampleGate(id: Column, m: Long): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % m === 0

  /** AUTO-SIZED IVF coarse-list count for a corpus of `n` vectors —
    * the √n guidance documented at s3/d9 bought as a library function
    * (the lshConfigFor pattern: configuration from a MEASURED count,
    * never a guess). nLists ≈ √n keeps per-list size ≈ √n, balancing
    * the probe's list-scan cost against the codebook-ranking cost —
    * the classical IVF operating point; floored at the sandbox
    * default 16 so tiny corpora keep the spec-pinned shape. Operating
    * points (spec-locked): 2k → 45, 20k → 141, 200k → 447, 20M →
    * 4472 — at 100× the corpus a probe list grows 10×, not 100×.
    */
  private[graft] def ivfConfigFor(n: Long): Int =
    math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** The corpus under its trained codebook: (vec_id, v, cid) with cid
    * the nearest list, plus the codebook itself (for probe ranking).
    * The list-assignment frame every IVF consumer starts from —
    * s3's serving scan and d9's cluster-scoped semantic dedup.
    */
  private[graft] def assignedVecs(t: Tables, nLists: Int = 16,
      dim: Int = 64, iters: Int = 3)
      : (DataFrame, graft.expressions.PlaneMatrix) = {
    val vecs = t.embeddings
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = codebooks.synchronized {
      codebooks.getOrElseUpdate((t.dir, nLists, dim, iters),
        { graft.Registries.bump()
          trainCodebook(vecs, nLists, dim, iters) })
    }
    (vecs.select(col("vec_id"), col("v"),
      Vectors.centroidTop1(col("v"), cb).as("cid")), cb)
  }

  def s3AnnIvf(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbe: Int = 2, dim: Int = 64, iters: Int = 3): DataFrame = {
    val (assigned, cb) = assignedVecs(t, nLists, dim, iters)
    val vecs = assigned.select(col("vec_id"), col("v"))
    val probeLists = vecs.filter(col("vec_id") === probeId)
      .select(explode(slice(Vectors.centroidRanks(col("v"), cb), 1, nProbe))
        .as("probe_cid"))
    val probe = vecs.filter(col("vec_id") === probeId)
      .select(col("v").as("pv"))
    assigned
      .join(broadcast(probeLists), col("cid") === col("probe_cid"))
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Vectors.cosine(col("v"), col("pv")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** s7: MMR DIVERSIFIED RERANK (Carbonell & Goldstein) — the rerank
    * stage between retrieval and the LLM context window: from the
    * top-`kCand` cosine candidates, greedily select `kOut` maximizing
    * `λ·rel(d) − μ·max_{s∈S} sim(d, s)` — relevance traded against
    * redundancy with what's already selected, so the context window
    * doesn't fill with near-copies of one passage.
    *
    * Scale shape: the DISTRIBUTED part is the candidate cut (s1's
    * scan + TakeOrdered — at 100 TB the IVF/PQ towers produce it);
    * the greedy loop then runs on the COLLECTED candidate set, k²
    * work on k ≤ tens of rows — the probe/topK bounded-collect
    * exception (this is also how production rerankers run: the
    * candidate set is in memory by definition). Scores compute on
    * ROUNDED rel/sims with a doc-id tie-break, so the selection
    * order is engine-portable; the oracle replays the greedy loop as
    * a DuckDB recursive CTE.
    *
    * `mu` is an explicit constant (not derived `1 − λ`): `1 − 0.7`
    * is 0.30000000000000004 in IEEE double while the oracle's
    * literal `0.3` is not — deriving it would diverge the two
    * engines' scores in the 17th digit and, eventually, a tie.
    */
  def s7MmrRerank(t: Tables, probeId: Long = 0L, kCand: Int = 20,
      kOut: Int = 5, lambda: Double = 0.7,
      mu: Double = 0.3): DataFrame = {
    val probe = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("pv"))
    val cand = t.embeddings.filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("v"),
        round(Vectors.cosine(col("v"), col("pv")), 4).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(kCand)
      .collect() // ≤ kCand rows by construction
    val sel = mmrSelect(
      cand.map(_.getAs[Long]("vec_id")),
      cand.map(_.getAs[Seq[Double]]("v").toArray),
      cand.map(_.getAs[Double]("rel")), kOut, lambda, mu)
    val spark = t.spark
    import spark.implicits._
    sel.toDF("rank", "doc_id", "rel", "mmr")
  }

  /** The greedy MMR loop over an in-memory candidate set. Pairwise
    * sims use the same sequential-fold cosine and HALF_UP 4-dec
    * rounding as the column expressions, so the scores — and the
    * (score desc, id asc) argmax — are bit-portable.
    */
  private[graft] def mmrSelect(ids: Array[Long], vecs: Array[Array[Double]],
      rels: Array[Double], kOut: Int, lambda: Double,
      mu: Double): Seq[(Int, Long, Double, Double)] = {
    def rnd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val n = ids.length
    val sim = Array.tabulate(n, n)((i, j) =>
      if (i == j) 0.0 else rnd(cos(vecs(i), vecs(j)), 4))
    val selected = scala.collection.mutable.Buffer[Int]()
    val out = scala.collection.mutable.Buffer[(Int, Long, Double, Double)]()
    for (step <- 1 to math.min(kOut, n)) {
      val (bi, bs) = (0 until n).filterNot(selected.contains).map { i =>
        val ms = if (selected.isEmpty) 0.0
                 else selected.map(j => sim(i)(j)).max
        (i, rnd(lambda * rels(i) - mu * ms, 6))
      }.minBy { case (i, s) => (-s, ids(i)) }
      selected += bi
      out += ((step, ids(bi), rels(bi), bs))
    }
    out.toSeq
  }

  /** s8: ANN RECALL EVALUATION — recall@k of the IVF index (s3's
    * serving path: nProbe pruned lists under the trained codebook)
    * against the exact brute-force ground truth (s1's arithmetic),
    * over a probe set. This is the quality gate every approximate
    * index ships with: the (nLists, nProbe) operating point is chosen
    * BY this measurement, and a production pipeline re-runs it after
    * every index rebuild to catch codebook drift.
    *
    * Scale: the exact side is intentionally brute-force — that is
    * what "ground truth" means — so recall eval always runs over a
    * SAMPLED probe set (here: the nProbes lowest vec_ids; production
    * samples ~1k probes by hash), never the full query log. Per-probe
    * top-k uses a rank window PARTITIONED by probe id (k-bounded
    * output per partition, probes ≪ corpus); the approximate side
    * reads only each probe's nProbe lists through the same broadcast
    * probe table. Both sides rank ROUNDED cosines with a vec_id
    * tie-break, so rank order — and therefore recall — is
    * engine-portable and replayed exactly by the oracle.
    */
  def s8AnnRecall(t: Tables, nProbes: Int = 8, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (assigned, cb) = assignedVecs(t, nLists)
    val probes = assigned.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("pid"), col("v").as("pv"))
    val w = Window.partitionBy("pid")
      .orderBy(col("cos").desc, col("vec_id"))
    def topk(df: DataFrame): DataFrame = df
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(Vectors.cosine(col("v"), col("pv")), 4).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("pid", "vec_id")
    val exact = topk(assigned.crossJoin(broadcast(probes)))
    // each probe's nProbe nearest lists, ranked by the SAME compiled
    // expression the writer assigns with (s3's serving contract)
    val pls = probes.select(col("pid"), col("pv"),
      explode(slice(Vectors.centroidRanks(col("pv"), cb), 1, nProbe))
        .as("cid"))
    // both towers descend from `assigned`, so the recall join is a
    // self-join by lineage — rename the approx side's columns OUTRIGHT
    // (exact("pid") === approx("pid") would resolve both sides to the
    // same attribute and silently degenerate to `true`, leaking hits
    // across probes)
    val approx = topk(assigned.join(broadcast(pls), "cid"))
      .select(col("pid").as("a_pid"), col("vec_id").as("a_id"))
    exact
      .join(approx,
        col("pid") === col("a_pid") && col("vec_id") === col("a_id"),
        "left")
      .groupBy(col("pid").as("probe_id"))
      .agg(count(col("a_id")).as("n_hit"))
      .withColumn("recall", floor(col("n_hit") / k * 10000 + 0.5) / 10000.0)
      .select("probe_id", "n_hit", "recall")
      .orderBy("probe_id")
  }

  /** s4: k-NN JOIN — top-k cosine neighbors for EVERY vector at once,
    * the batch form 100 TB pipelines actually run (near-dup scoring,
    * retrieval-index build), vs s1–s3's single-probe serving shape.
    * Candidates come from the SAME banded multi-probe hyperplane LSH
    * as d5 (one equi-join, no n² scan); each vector then ranks only
    * its candidates by exact cosine. Ranking runs on the ROUNDED
    * cosine with a doc-id tie-break so any engine ranks identically —
    * which is what makes a per-vector top-k hash-gateable at all.
    * One shuffle by source vector for the rank window; at cluster
    * scale that window is the standard per-key top-k shape (map-side
    * partial top-k via the bottom-k pattern if k·|V| ever dominates).
    */
  def s4KnnJoin(t: Tables, k: Int = 3): DataFrame =
    knnJoinFrom(t.embeddings.select("vec_id", "embedding"), k)

  /** DataFrame form of s4 for the graft.api facade: any
    * (vec_id, embedding) frame in, (src, rank, dst, cos) out.
    */
  private[graft] def knnJoinFrom(vecsIn: DataFrame, k: Int,
      probeRadius: Int = 1, nBands: Int = Dedup.lshBands,
      bandBits: Int = Dedup.lshBandBits,
      sorted: Boolean = true): DataFrame = {
    // cached: the union below consumes the candidate join TWICE (one
    // direction each), and an uncached frame would re-run it per
    // reference (embeddingCandidates opens this operator's cache
    // scope, so this cache is released by the next operator).
    // nBands/bandBits are the deployment's log-n knobs: bandBits
    // grows with log₂(corpus) to hold per-bucket occupancy constant
    // (the 4096-plane matrix supports up to 32-bit bands).
    val cand = graft.Caches.materialized(
      Dedup.embeddingCandidates(vecsIn, probeRadius, nBands, bandBits))
    val sym = cand.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(cand.select(col("vec_b").as("src"), col("vec_a").as("dst")))
    val vecs = vecsIn
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val out = sym
      .join(vecs.withColumnRenamed("vec_id", "src")
        .withColumnRenamed("v", "sv"), "src")
      .join(vecs.withColumnRenamed("vec_id", "dst")
        .withColumnRenamed("v", "dv"), "dst")
      .withColumn("cos", round(Vectors.cosine(col("sv"), col("dv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"), col("cos"))
    if (sorted) out.orderBy("src", "rank") else out
  }

  /** s5: PRODUCT-QUANTIZATION ENCODE — compress every embedding to
    * `m` sub-codebook ids (PQ codes) + its reconstruction error: the
    * memory layer under billion-scale ANN (IVF-PQ), where a 64-dim
    * float vector becomes m bytes and distance math runs on
    * code-indexed lookup tables. Per subspace, a k-means codebook is
    * trained with L2 assignment (decimal-exact mean updates, id-order
    * seeding — the s3 trainer contract applied per slice); encode is
    * then a pure argmin PROJECTION against the m·k·(dim/m)-double
    * model constant. qerr = Σ per-subspace min L2² (rounded 4).
    *
    * Scale: training touches the corpus `iters` times per subspace
    * on slices (all map-side partial aggregates; driver state =
    * the model, not data); encode is shuffle-free and fuses with the
    * scan. At 100 TB the model trains on a sample offline — the
    * operator's encode path is what runs corpus-wide.
    */
  def s5PqEncode(t: Tables, m: Int = 4, k: Int = 4, iters: Int = 2,
      dim: Int = 64): DataFrame = {
    val books = pqModel(t, m, k, iters, dim)
    pqEncodeFrame(t.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      books, dim / m)
      .orderBy("vec_id")
  }

  /** The trained PQ model for a corpus (memoized per training input —
    * [[pqBooks]]'s immutable-corpus contract). The offline-training
    * entry the streaming encode pins its model from.
    */
  private[graft] def pqModel(t: Tables, m: Int = 4, k: Int = 4,
      iters: Int = 2, dim: Int = 64): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqBooks.synchronized {
      pqBooks.getOrElseUpdate((t.dir, m, k, iters, dim),
        { graft.Registries.bump()
          trainPqBooks(vecs, m, sub, k, iters) })
    }
  }

  /** Train-and-encode over an arbitrary (vec_id, v) frame — the
    * `Graft.pqEncode` facade entry. No model memoization here: an
    * arbitrary frame has no stable identity to key a registry by, so
    * each call trains (callers wanting a reused model hold their own
    * books via [[pqModel]] on a Tables corpus).
    */
  private[graft] def pqTrainEncode(vecs: DataFrame, m: Int, k: Int,
      iters: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    val books = trainPqBooks(vecs, m, sub, k, iters)
    pqEncodeFrame(vecs, books, sub)
  }

  /** The s5 output projection (vec_id, code0..m-1, qerr) over any
    * (vec_id, v) frame — batch and streaming share it verbatim.
    */
  private[graft] def pqEncodeFrame(vecs: DataFrame,
      books: Array[Array[Array[Double]]], sub: Int): DataFrame =
    pqCoded(vecs, books, sub).select(
      (col("vec_id") +:
        books.indices.map(mi => col(s"code$mi"))) :+
        round(books.indices.map(mi => array_min(col(s"d$mi")))
          .reduce(_ + _), 4).as("qerr"): _*)

  /** Corpus under the PQ model: vec_id + per-subspace distance arrays
    * (`d\$mi`) and argmin codes (`code\$mi`) — the encode projection
    * s5 emits and s6 looks distances up against.
    */
  private[graft] def pqCoded(vecs: DataFrame, books: Array[Array[Array[Double]]],
      sub: Int): DataFrame = {
    val withD = books.indices.foldLeft(vecs) { case (df, mi) =>
      df.withColumn(s"d$mi",
        pqDists(slice(col("v"), mi * sub + 1, sub), books(mi)))
    }
    books.indices.foldLeft(withD) { case (df, mi) =>
      df.withColumn(s"code$mi",
        (array_position(col(s"d$mi"), array_min(col(s"d$mi"))) - 1)
          .cast("int"))
    }
  }

  /** s6: IVF-PQ SEARCH (asymmetric distance computation) — the
    * serving half of s5: the probe builds m tiny distance tables
    * (probe subvector vs every codeword, m·k doubles on the driver —
    * a model-sized constant, not data), and every corpus vector's
    * distance ESTIMATE is then a pure table LOOKUP on its PQ codes:
    * est = Σ_m dt[m][code_m]. No vector math per corpus row at all —
    * that is the entire point of PQ at billion scale. Top-10 by
    * estimated distance (ties to lower vec_id).
    *
    * Scale: encode is the same shuffle-free projection as s5 (at
    * 100 TB the codes are a stored column — written once, scanned as
    * 4 bytes/vector instead of 256); the probe's lookup tables ride
    * as literals, so search = scan + project + TakeOrdered.
    */
  def s6PqSearch(t: Tables, probeId: Long = 0L, m: Int = 4, k: Int = 4,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val sub = dim / m
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val books = pqModel(t, m, k, iters, dim)
    // missing probe → empty result, not a crash (s1/s3's contract;
    // their lazy filtered-probe frames degrade the same way)
    val pvRow = vecs.filter(col("vec_id") === probeId)
      .select("v").collect().headOption
    if (pvRow.isEmpty)
      return vecs.select(col("vec_id"), lit(0.0).as("d_est")).limit(0)
    val pv = pvRow.get.getSeq[Double](0).toArray
    adcRank(pqCoded(vecs, books, sub).filter(col("vec_id") =!= probeId),
      adcTables(pv, books, m, sub), m)
  }

  /** Per-subspace ADC lookup tables for a probe: dt(mi)(j) =
    * ||probe_sv − c_j||² with the identical dot-product fold shape
    * the oracle's SQL computes. The bit-portability-critical ADC
    * arithmetic lives HERE and in [[adcRank]] once, shared by s6's
    * full-corpus scan and s9's pruned-list scan — a change to either
    * formula cannot leave the two operators silently divergent.
    */
  private[graft] def adcTables(pv: Array[Double],
      books: Array[Array[Array[Double]]], m: Int,
      sub: Int): Array[Array[Double]] = {
    def sdot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    Array.tabulate(m) { mi =>
      val psv = pv.slice(mi * sub, mi * sub + sub)
      books(mi).map(cw => sdot(psv, psv) - 2 * sdot(psv, cw) + sdot(cw, cw))
    }
  }

  /** The ADC lookup-sum ranking over a coded frame: Σ dt[mi][code],
    * rounded then (d_est, vec_id) top-`k`.
    */
  private[graft] def adcRank(coded: DataFrame, dt: Array[Array[Double]],
      m: Int, k: Int = 10): DataFrame =
    coded
      .select(col("vec_id"),
        round((0 until m).map(mi =>
            element_at(typedLit(dt(mi).toSeq), col(s"code$mi") + 1))
          .reduce(_ + _), 4).as("d_est"))
      .orderBy(col("d_est"), col("vec_id"))
      .limit(k)

  /** s9: IVF-PQ SEARCH — the two pruning layers composed, which is
    * the layout billion-scale ANN actually ships (FAISS IVFPQ): the
    * coarse IVF codebook prunes the corpus to the probe's `nProbe`
    * nearest lists (s3's serving contract), and within those lists
    * every vector is scored through its PQ CODES via the probe's ADC
    * lookup tables (s6's serving contract) — no float vector is
    * touched at query time. Cost per query = (nProbe/nLists of the
    * corpus) × (m byte-lookups + adds per row): both factors
    * independently tunable, multiplicative together.
    *
    * At cluster scale `cid` is the partition key (st15's maintained
    * layout) and the codes are stored 4-byte columns (s5's encode) —
    * serving is a partition-pruned scan of compressed codes + a
    * TakeOrdered; the on-the-fly encode here produces the identical
    * codes the stored column would hold (same model, same argmin).
    * Codes quantize the RAW vectors (codebooks trained corpus-wide,
    * s5's model) rather than list residuals — the simpler published
    * variant; the residual model ships as [[s10PqResidual]] and the
    * exact-refinement serving stage as [[s11IvfPqRerank]]. The
    * oracle replays BOTH trainings (s3's k-means + s5's
    * per-subspace Lloyd's), the probe's list choice, the ADC tables,
    * and the pruned lookup-sum ranking in SQL.
    */
  def s9IvfPqSearch(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbe: Int = 2, m: Int = 4, k: Int = 4, iters: Int = 2,
      dim: Int = 64): DataFrame = {
    val sub = dim / m
    val (assigned, cb) = assignedVecs(t, nLists)
    val books = pqModel(t, m, k, iters, dim)
    val probe = assigned.filter(col("vec_id") === probeId)
      .select(col("v"),
        slice(Vectors.centroidRanks(col("v"), cb), 1, nProbe).as("pls"))
      .collect().headOption
    if (probe.isEmpty)
      return assigned.select(col("vec_id"), lit(0.0).as("d_est")).limit(0)
    val pv = probe.get.getSeq[Double](0).toArray
    val probeLists = probe.get.getSeq[Int](1)
    adcRank(
      pqCoded(assigned.filter(col("cid").isin(probeLists: _*)), books, sub)
        .filter(col("vec_id") =!= probeId),
      adcTables(pv, books, m, sub), m)
  }

  /** s11: IVF-PQ SEARCH WITH EXACT REFINEMENT — s9's two pruning
    * layers plus the standard third serving stage (FAISS's refine /
    * `REFINE` index): the ADC lookup-sum ranks a SHORTLIST of
    * `rerank` candidates (≈4·k — still code-only, no float touched),
    * and only those `rerank` rows pay an exact L2² against their raw
    * vectors before the final top-`k`. Quantization error moves
    * who-beats-whom near the decision boundary; re-scoring a
    * 4×-over-fetched shortlist recovers most of that recall for a
    * fixed, k-bounded extra cost — AnnStreamSpec measures the
    * recall-vs-exact-ground-truth gain over the pure-ADC path.
    *
    * Scale shape: stage 3 is one k-bounded semi-join back to the raw
    * vector column (the shortlist rides as a broadcast id set at
    * cluster scale) — the corpus-wide scan is still codes-only,
    * exactly s9's. The exact distance uses the SAME fold shape as
    * the ADC tables (sdot: v·v − 2·v·p + p·p), so the oracle replays
    * it with list_dot_product bit-for-bit.
    */
  def s11IvfPqRerank(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbe: Int = 2, m: Int = 4, k: Int = 4, iters: Int = 2,
      dim: Int = 64, kOut: Int = 10, rerank: Int = 40): DataFrame = {
    val sub = dim / m
    val (assigned, cb) = assignedVecs(t, nLists)
    val books = pqModel(t, m, k, iters, dim)
    val probe = assigned.filter(col("vec_id") === probeId)
      .select(col("v"),
        slice(Vectors.centroidRanks(col("v"), cb), 1, nProbe).as("pls"))
      .collect().headOption
    if (probe.isEmpty)
      return assigned.select(col("vec_id"), lit(0.0).as("d_est"),
        lit(0.0).as("d_exact")).limit(0)
    val pv = probe.get.getSeq[Double](0).toArray
    val probeLists = probe.get.getSeq[Int](1)
    val shortlist = adcRank(
      pqCoded(assigned.filter(col("cid").isin(probeLists: _*)), books, sub)
        .filter(col("vec_id") =!= probeId),
      adcTables(pv, books, m, sub), m, rerank)
    // exact refinement: ||v − p||² = v·v − 2·v·p + p·p with p·p a
    // driver constant — the adcTables fold shape on whole vectors.
    // The raw-vector re-fetch is restricted to the probe's lists
    // (the shortlist is a subset by construction): under st15's
    // cid-partitioned layout this is a partition-pruned read, never
    // a corpus scan to fetch `rerank` rows.
    val pp = pv.foldLeft(0.0)((a, x) => a + x * x)
    shortlist
      .join(assigned.filter(col("cid").isin(probeLists: _*))
        .select(col("vec_id"), col("v")), "vec_id")
      .select(col("vec_id"), col("d_est"),
        round(Vectors.dot(col("v"), col("v")) -
          lit(2.0) * Vectors.dot(col("v"), typedLit(pv.toSeq)) + lit(pp),
          4).as("d_exact"))
      .orderBy(col("d_exact"), col("vec_id"))
      .limit(kOut)
  }

  /** s11 oracle: the s9 replay's ADC ranking widened to the `rerank`
    * shortlist, then the exact-L2² re-score over raw vectors and the
    * final (d_exact, vec_id) top-k.
    */
  private def ivfPqRerankOracleSql(nProbe: Int, m: Int, k: Int,
      iters: Int, dim: Int, rerank: Int, kOut: Int): String = {
    val sub = dim / m
    val subs = (0 until m).map(pqSubspaceCte(_, sub, k, iters)).mkString(",\n")
    val dts = (0 until m).map { mi =>
      s"""dt$mi AS (
         |  SELECT c.cid, ${pqDistSql("p.sv", "c.cv")} AS dd
         |  FROM (SELECT sv FROM s$mi WHERE vec_id = 0) p, c${mi}_$iters c)"""
        .stripMargin
    }.mkString(",\n")
    val eJoins = (1 until m).map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val tJoins = (0 until m)
      .map(mi => s"JOIN dt$mi t$mi ON t$mi.cid = e$mi.code$mi").mkString(" ")
    val estSum = (0 until m).map(mi => s"t$mi.dd").mkString(" + ")
    s"""WITH $kmeansReplayCte,
       |$subs,
       |pr AS (
       |  SELECT cid FROM (
       |    SELECT cc.cid, row_number() OVER (ORDER BY
       |      list_dot_product(p.v, cc.cv) /
       |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
       |      cc.cid) AS rn
       |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
       |         (SELECT cid, v AS cv FROM c3) cc) t
       |  WHERE rn <= $nProbe),
       |$dts,
       |adc AS (
       |  SELECT e0.vec_id, round($estSum, 4) AS d_est
       |  FROM e0 $eJoins $tJoins
       |  JOIN af ON af.vec_id = e0.vec_id
       |  JOIN pr ON pr.cid = af.cid
       |  WHERE e0.vec_id <> 0
       |  ORDER BY d_est, e0.vec_id LIMIT $rerank),
       |p AS (SELECT v AS pv FROM vv WHERE vec_id = 0)
       |SELECT a.vec_id, a.d_est,
       |  round(list_dot_product(x.v, x.v) - 2*list_dot_product(x.v, pv)
       |    + list_dot_product(pv, pv), 4) AS d_exact
       |FROM adc a JOIN vv x ON x.vec_id = a.vec_id, p
       |ORDER BY d_exact, a.vec_id LIMIT $kOut""".stripMargin
  }

  /** s9 oracle: s3's k-means replay (coarse lists + the probe's
    * nProbe choice) composed with s5/s6's PQ replay (sub-codebooks,
    * encodes, ADC tables), the final ranking restricted to the
    * admitted lists.
    */
  private def ivfPqOracleSql(nProbe: Int, m: Int, k: Int, iters: Int,
      dim: Int): String = {
    val sub = dim / m
    val subs = (0 until m).map(pqSubspaceCte(_, sub, k, iters)).mkString(",\n")
    val dts = (0 until m).map { mi =>
      s"""dt$mi AS (
         |  SELECT c.cid, ${pqDistSql("p.sv", "c.cv")} AS dd
         |  FROM (SELECT sv FROM s$mi WHERE vec_id = 0) p, c${mi}_$iters c)"""
        .stripMargin
    }.mkString(",\n")
    val eJoins = (1 until m).map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val tJoins = (0 until m)
      .map(mi => s"JOIN dt$mi t$mi ON t$mi.cid = e$mi.code$mi").mkString(" ")
    val estSum = (0 until m).map(mi => s"t$mi.dd").mkString(" + ")
    s"""WITH $kmeansReplayCte,
       |$subs,
       |pr AS (
       |  SELECT cid FROM (
       |    SELECT cc.cid, row_number() OVER (ORDER BY
       |      list_dot_product(p.v, cc.cv) /
       |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
       |      cc.cid) AS rn
       |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
       |         (SELECT cid, v AS cv FROM c3) cc) t
       |  WHERE rn <= $nProbe),
       |$dts
       |SELECT e0.vec_id, round($estSum, 4) AS d_est
       |FROM e0 $eJoins $tJoins
       |JOIN af ON af.vec_id = e0.vec_id
       |JOIN pr ON pr.cid = af.cid
       |WHERE e0.vec_id <> 0
       |ORDER BY d_est, e0.vec_id LIMIT 10""".stripMargin
  }

  /** Train-once PQ codebook registry (same immutable-corpus contract
    * as [[codebooks]]): m sub-codebooks of k×(dim/m) doubles.
    */
  private val pqBooks = scala.collection.mutable
    .Map[(String, Int, Int, Int, Int), Array[Array[Array[Double]]]]()

  /** Train-once registry for the RESIDUAL PQ model (keyed by the
    * coarse shape too — residuals depend on the coarse codebook).
    */
  private val residBooks = scala.collection.mutable
    .Map[(String, Int, Int, Int, Int, Int), Array[Array[Array[Double]]]]()

  /** s10: RESIDUAL PRODUCT QUANTIZATION — the FAISS-default quality
    * bump over s5's raw-vector PQ: vectors are first assigned to
    * their coarse IVF list (s3's trained codebook), and PQ encodes
    * the RESIDUAL v − centroid(cid) instead of v. Residuals are
    * centered near zero with far less spread than raw vectors (the
    * coarse quantizer has already explained the between-list
    * variance), so the same m×k code budget spends its codewords on
    * a tighter distribution — strictly less quantization error for
    * identical serving cost (AnnStreamSpec measures mean qerr
    * strictly below s5's on the corpus).
    *
    * Scale: the residual is a pure zip_with PROJECTION against the
    * model constant (no join, no Exchange — the centroid rides as a
    * literal indexed by cid), so encode still fuses with the scan;
    * training runs per subspace on the residual frame exactly as
    * s5's does. The oracle replays BOTH trainings: s3's coarse
    * k-means (assignment included) and the per-subspace Lloyd's over
    * the derived residuals.
    */
  def s10PqResidual(t: Tables, nLists: Int = 16, m: Int = 4, k: Int = 4,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    graft.Caches.fresh()
    val sub = dim / m
    val (assigned, cb) = assignedVecs(t, nLists)
    // cached only while TRAINING scans it m×(iters+1) times (seed +
    // each Lloyd's round per subspace) — a warm call (model already
    // in the registry) reads the frame exactly once for the encode,
    // where a count-to-materialize would double the work
    var resid = residualFrame(assigned, cb, dim)
    val books = residBooks.synchronized {
      residBooks.getOrElseUpdate((t.dir, nLists, m, k, iters, dim), {
        graft.Registries.bump()
        resid = graft.Caches.materialized(resid)
        trainPqBooks(resid, m, sub, k, iters)
      })
    }
    pqEncodeFrame(resid, books, sub).orderBy("vec_id")
  }

  /** (vec_id, v = vector − its coarse centroid): element-wise
    * zip_with against the codebook constant indexed by cid — the
    * shuffle-free residual projection s10 trains and encodes over.
    */
  private def residualFrame(assigned: DataFrame,
      cb: graft.expressions.PlaneMatrix, dim: Int): DataFrame = {
    val cents = centroidRows(cb, cb.values.length / dim, dim)
    assigned.select(col("vec_id"),
      zip_with(col("v"),
        element_at(typedLit(cents), col("cid") + 1),
        (x, c) => x - c).as("v"))
  }

  // ------------------------------------------------------------------
  // s12/s13: SCALAR QUANTIZATION (SQ8)
  // ------------------------------------------------------------------

  /** Per-dimension SQ8 model — (mins, scales) with scale_i =
    * (max_i − min_i)/256 — over a corpus's embedding column. The
    * model is ONE map-side-partial 1-row aggregate (2·dim doubles on
    * the driver: model-sized, the [[pqModel]] contract), memoized per
    * corpus dir like the PQ codebooks.
    */
  private val sqModels = scala.collection.mutable
    .Map.empty[(String, Int), (Array[Double], Array[Double])]

  private[graft] def sqModel(t: Tables,
      dim: Int = 64): (Array[Double], Array[Double]) =
    sqModels.synchronized {
      sqModels.getOrElseUpdate((t.dir, dim), {
        graft.Registries.bump()
        sqModelFrom(t.embeddings
          .select(col("embedding").cast("array<double>").as("v")), dim)
      })
    }

  /** The SQ8 model over an arbitrary (…, v) frame — no memoization
    * (an arbitrary frame has no stable identity, [[pqTrainEncode]]'s
    * contract).
    */
  private[graft] def sqModelFrom(vecs: DataFrame,
      dim: Int): (Array[Double], Array[Double]) = {
    val aggs =
      (0 until dim).map(i => min(element_at(col("v"), i + 1))) ++
        (0 until dim).map(i => max(element_at(col("v"), i + 1)))
    val row = vecs.agg(aggs.head, aggs.tail: _*).collect()(0)
    // an EMPTY frame aggregates to all-null min/max — serve the zero
    // model (every code 0, reconstruction = 0) instead of an NPE, so
    // the public sqEncode/sqSearch facades return typed empties on
    // empty input like their siblings
    if (row.isNullAt(0))
      return (Array.fill(dim)(0.0), Array.fill(dim)(0.0))
    val mins = Array.tabulate(dim)(i => row.getDouble(i))
    val scales =
      Array.tabulate(dim)(i => (row.getDouble(dim + i) - mins(i)) / 256.0)
    (mins, scales)
  }

  /** Train-and-encode over an arbitrary (vec_id, v) frame — the
    * `Graft.sqEncode` facade entry.
    */
  private[graft] def sqTrainEncode(vecs: DataFrame, dim: Int): DataFrame = {
    val (mins, scales) = sqModelFrom(vecs, dim)
    sqEncodeFrame(vecs, mins, scales)
  }

  /** Per-dimension uint8 codes: code_i = clamp(⌊(v_i − min_i)/
    * scale_i⌋, 0, 255) (0 where the dimension is constant). Pure
    * projection against the literal model arrays — fuses with the
    * scan, no shuffle. `floor` (not `round`) because the two engines
    * disagree on round-half ties but agree exactly on floor.
    */
  private[graft] def sqCodes(v: Column, mins: Array[Double],
      scales: Array[Double]): Column =
    sqCodesCol(v, typedLit(mins.toSeq), typedLit(scales.toSeq))

  /** [[sqCodes]] with the model as COLUMNS — the per-list variant
    * (s15) passes `element_at(<nested literal>, cid + 1)` lookups so
    * each row encodes against ITS list's ranges; still a pure fused
    * projection, no join.
    */
  private[graft] def sqCodesCol(v: Column, mn: Column,
      sc: Column): Column =
    transform(v, (x, i) => {
      val s = element_at(sc, i + 1)
      when(s === 0.0, lit(0))
        .otherwise(least(lit(255.0),
          greatest(lit(0.0), floor((x - element_at(mn, i + 1)) / s)))
          .cast("int"))
    })

  /** Bucket-center reconstruction: rec_i = min_i + (code_i + 0.5)·
    * scale_i — the decode every SQ distance estimate runs on.
    */
  private[graft] def sqReconstruct(codes: Column, mins: Array[Double],
      scales: Array[Double]): Column =
    sqReconstructCol(codes, typedLit(mins.toSeq), typedLit(scales.toSeq))

  /** [[sqReconstruct]] with the model as columns (s15's per-list
    * lookup).
    */
  private[graft] def sqReconstructCol(codes: Column, mn: Column,
      sc: Column): Column =
    transform(codes, (c, i) =>
      element_at(mn, i + 1) +
        (c.cast("double") + 0.5) * element_at(sc, i + 1))

  /** s12: SCALAR-QUANTIZATION ENCODE (FAISS SQ8) — every embedding
    * compressed to one byte per DIMENSION: per-dim min/max over the
    * corpus define 256 uniform buckets, code_i = ⌊(v_i − min_i)/
    * scale_i⌋. 4× smaller than float32 with NO codebook training —
    * the quantization tier below PQ (s5: dim/m bytes per vector, a
    * trained model) for pipelines that want cheap compression with
    * near-exact recall. Output per vector: the dash-joined code
    * string (64 codes — one hash-stable column instead of 64) and
    * the reconstruction error qerr = Σ(v_i − rec_i)², rounded 4.
    *
    * Scale: the model is a 1-row aggregate (all map-side partials);
    * encode is a shuffle-free projection that fuses with the scan.
    * At 100 TB the codes are the stored column (64 B/vector vs
    * 256 B) and this operator is the ingest-time writer.
    */
  def s12SqEncode(t: Tables, dim: Int = 64): DataFrame = {
    val (mins, scales) = sqModel(t, dim)
    sqEncodeFrame(t.embeddings
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
      mins, scales)
      .orderBy("vec_id")
  }

  /** The s12 output projection over any (vec_id, v) frame — batch
    * entry and any future streaming form share it verbatim.
    */
  private[graft] def sqEncodeFrame(vecs: DataFrame, mins: Array[Double],
      scales: Array[Double]): DataFrame =
    vecs
      .withColumn("codes_arr", sqCodes(col("v"), mins, scales))
      .select(col("vec_id"),
        array_join(transform(col("codes_arr"), c => c.cast("string")), "-")
          .as("codes"),
        round(aggregate(
          zip_with(col("v"),
            sqReconstruct(col("codes_arr"), mins, scales),
            (x, r) => (x - r) * (x - r)),
          lit(0.0), (a, e) => a + e), 4).as("qerr"))

  /** s13: SQ8 ASYMMETRIC SEARCH — the serving half of s12: the query
    * stays full-precision, every corpus vector is scored by exact
    * L2² against its bucket-center RECONSTRUCTION (asymmetric
    * distance — quantize one side only, half the quantization noise
    * of code-vs-code). Top-10 by (d_est, vec_id).
    *
    * Scale: scan + projection + TakeOrdered, s6's serving shape; at
    * lake scale the scan reads the stored 64 B code column, not the
    * floats, and composes with IVF list pruning (s9's layout)
    * unchanged. The on-the-fly encode here produces the identical
    * codes the stored column would hold (same model, same floor).
    */
  def s13SqSearch(t: Tables, probeId: Long = 0L, dim: Int = 64,
      k: Int = 10): DataFrame = {
    val (mins, scales) = sqModel(t, dim)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // missing probe → empty result, not a crash (s6's contract)
    val pvRow = vecs.filter(col("vec_id") === probeId)
      .select("v").collect().headOption
    if (pvRow.isEmpty)
      return vecs.select(col("vec_id"), lit(0.0).as("d_est")).limit(0)
    sqSearchFrame(vecs.filter(col("vec_id") =!= probeId),
      mins, scales, pvRow.get.getSeq[Double](0), k)
  }

  /** The s13 serving scan over any (vec_id, v) frame: asymmetric L2²
    * of a full-precision query against each vector's bucket-center
    * reconstruction, (d_est, vec_id) top-`k` — batch entry and the
    * `Graft.sqSearch` facade share it verbatim.
    */
  private[graft] def sqSearchFrame(vecs: DataFrame, mins: Array[Double],
      scales: Array[Double], queryVec: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(queryVec)
    vecs
      .withColumn("rec",
        sqReconstruct(sqCodes(col("v"), mins, scales), mins, scales))
      .select(col("vec_id"),
        round(aggregate(
          zip_with(q, col("rec"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, e) => acc + e), 4).as("d_est"))
      .orderBy(col("d_est"), col("vec_id"))
      .limit(k)
  }

  /** s14: IVF-SQ SEARCH — the IVF coarse pruning composed with SQ8
    * serving (FAISS's IVF-SQ8 index, the memory tier between IVF-flat
    * and IVF-PQ): the probe's `nProbe` nearest lists are scanned
    * (s3's pruning contract) and every vector in them is scored by
    * asymmetric L2² against its SQ8 reconstruction (s13's serving
    * contract) — 4× less I/O than IVF-flat at near-flat recall, no
    * codebook training beyond the coarse quantizer. The SQ model
    * stays CORPUS-GLOBAL (per-dim min/max — the standard layout;
    * residual-range-per-list is a model change, s10's axis).
    *
    * Scale: serving reads nProbe/nLists of the corpus as stored
    * 64 B/vector codes (cid the partition key, st15's maintained
    * layout), then projection + TakeOrdered — both pruning factors
    * and the compression multiply, each independently tunable.
    */
  def s14IvfSqSearch(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbe: Int = 2, dim: Int = 64, k: Int = 10): DataFrame = {
    val (assigned, cb) = assignedVecs(t, nLists)
    val (mins, scales) = sqModel(t, dim)
    val probe = assigned.filter(col("vec_id") === probeId)
      .select(col("v"),
        slice(Vectors.centroidRanks(col("v"), cb), 1, nProbe).as("pls"))
      .collect().headOption
    if (probe.isEmpty)
      return assigned.select(col("vec_id"), lit(0.0).as("d_est")).limit(0)
    val probeLists = probe.get.getSeq[Int](1)
    // the serving scan is built DIRECTLY over the corpus (not over
    // assignedVecs' training-parallelized frame, whose repartition
    // would shuffle the pruned candidates for nothing): the cid
    // filter and the asymmetric scoring both fuse with the scan —
    // zero Exchange, PlanSpec-locked
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid",
        Vectors.centroidTop1(col("v"), cb))
    sqSearchFrame(
      vecs.filter(col("cid").isin(probeLists: _*))
        .filter(col("vec_id") =!= probeId)
        .select("vec_id", "v"),
      mins, scales, probe.get.getSeq[Double](0), k)
  }

  /** s15: PER-LIST RESIDUAL SQ ENCODE — the documented model change
    * s14's scaladoc names as the quality bump (FAISS's
    * `IVF,SQ8`-with-residual layout): instead of ONE corpus-global
    * per-dim range, each coarse list quantizes its RESIDUALS
    * (v − centroid) against ITS OWN per-dim min/max. Residuals
    * concentrate near zero within a list, so the 256 buckets span a
    * far tighter range than the raw corpus — mean reconstruction
    * error drops strictly below the global model's at the same byte
    * budget (spec-pinned against s12 on the sf corpus). Output per
    * vector: the dash-joined 64-code string and qerr = Σ(res_i −
    * rec_i)² — the full-vector reconstruction error, since
    * v − (centroid + rec) = res − rec.
    *
    * Scale: the model is nLists × dim × 2 doubles from ONE
    * (cid, pos) aggregate over the residual frame (map-side partials,
    * model-sized collect); encode is a fused projection — the per-row
    * model lookup is an `element_at(<literal>, cid + 1)`, no join, no
    * extra Exchange beyond s3's one-time assignment. At 100 TB the
    * codes are the stored column (64 B/vector) partitioned by cid —
    * s14's serving composes unchanged, with the tighter ranges.
    */
  def s15SqPerList(t: Tables, nLists: Int = 16,
      dim: Int = 64): DataFrame = {
    val (assigned, cb) = assignedVecs(t, nLists)
    val cents = centroidRows(cb, nLists, dim)
    val (mins, scales) = sqPerListModelFor(t, nLists, dim)
    val resid = assigned.select(col("vec_id"), col("cid"),
      zip_with(col("v"),
        element_at(typedLit(cents), col("cid") + 1),
        (x, c) => x - c).as("v"))
    val mn = element_at(typedLit(mins), col("cid") + 1)
    val sc = element_at(typedLit(scales), col("cid") + 1)
    resid
      .withColumn("codes_arr", sqCodesCol(col("v"), mn, sc))
      .select(col("vec_id"),
        array_join(transform(col("codes_arr"), c => c.cast("string")),
          "-").as("codes"),
        round(aggregate(
          zip_with(col("v"),
            sqReconstructCol(col("codes_arr"), mn, sc),
            (x, r) => (x - r) * (x - r)),
          lit(0.0), (a, e) => a + e), 4).as("qerr"))
      .orderBy("vec_id")
  }

  /** The codebook's centroids as row vectors (literal-friendly). */
  private def centroidRows(cb: graft.expressions.PlaneMatrix,
      nLists: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nLists)
      .map(ci => cb.values.slice(ci * dim, ci * dim + dim).toSeq)

  /** Memoized per-corpus per-list SQ model (s15 trains it, s16 serves
    * from it — the pqModel registry contract): residuals derived
    * under the corpus codebook, cached only while the one (cid, pos)
    * training aggregate runs.
    */
  private val sqPerListModels = scala.collection.mutable
    .Map.empty[(String, Int, Int), (Seq[Seq[Double]], Seq[Seq[Double]])]

  private[graft] def sqPerListModelFor(t: Tables, nLists: Int,
      dim: Int): (Seq[Seq[Double]], Seq[Seq[Double]]) =
    sqPerListModels.synchronized {
      sqPerListModels.getOrElseUpdate((t.dir, nLists, dim), {
        graft.Registries.bump()
        val (assigned, cb) = assignedVecs(t, nLists)
        val cents = centroidRows(cb, nLists, dim)
        val resid = graft.Caches.materialized(
          assigned.select(col("vec_id"), col("cid"),
            zip_with(col("v"),
              element_at(typedLit(cents), col("cid") + 1),
              (x, c) => x - c).as("v")))
        try sqPerListModel(resid, nLists, dim)
        finally graft.Caches.drop(resid)
      })
    }

  /** s16: IVF-SQ SEARCH OVER THE PER-LIST MODEL — the serving half
    * of s15, completing the FAISS `IVF,SQ8`-with-residual tier
    * end-to-end (encode s15, serve s16): the probe's `nProbe`
    * nearest lists are scanned (s3's pruning) and every candidate is
    * scored by exact L2² of the full-precision query against its
    * reconstruction v̂ = centroid[cid] + decode_perlist(codes) —
    * s13's asymmetric-distance contract over s15's per-list ranges.
    * The model-quality claim lives at the ENCODE level (s15: corpus-
    * mean reconstruction error strictly below the global model's,
    * spec-pinned); at SERVING the spec pins what the ranking needs —
    * the quantized estimates preserve the pruned pool's exact-L2
    * top-10 and stay within a small fraction of the pool's distance
    * spread. (Measured honestly: pool-wise distance-error aggregates
    * do NOT reliably order the two models — the (v+v̂−2q) lever-arm
    * cross terms dominate the per-dim reconstruction win.)
    *
    * Scale: s14's fused serving shape exactly — the cid filter, the
    * per-row model lookups (element_at on nested literals: centroid,
    * mins, scales), the residual encode/decode and the scoring ALL
    * fuse with the corpus scan; projection + TakeOrdered, zero
    * Exchange (PlanSpec-locked). At lake scale the scan reads the
    * stored per-list code column (st15's cid-partitioned layout).
    */
  def s16IvfSqPerlistSearch(t: Tables, probeId: Long = 0L,
      nLists: Int = 16, nProbe: Int = 2, dim: Int = 64,
      k: Int = 10): DataFrame = {
    val (assigned, cb) = assignedVecs(t, nLists)
    val cents = centroidRows(cb, nLists, dim)
    val (mins, scales) = sqPerListModelFor(t, nLists, dim)
    val probe = assigned.filter(col("vec_id") === probeId)
      .select(col("v"),
        slice(Vectors.centroidRanks(col("v"), cb), 1, nProbe).as("pls"))
      .collect().headOption
    if (probe.isEmpty)
      return assigned.select(col("vec_id"), lit(0.0).as("d_est")).limit(0)
    val probeLists = probe.get.getSeq[Int](1)
    val q = typedLit(probe.get.getSeq[Double](0))
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid",
        Vectors.centroidTop1(col("v"), cb))
    val cent = element_at(typedLit(cents), col("cid") + 1)
    val mn = element_at(typedLit(mins), col("cid") + 1)
    val sc = element_at(typedLit(scales), col("cid") + 1)
    val res = zip_with(col("v"), cent, (x, c) => x - c)
    val rec = zip_with(cent,
      sqReconstructCol(sqCodesCol(res, mn, sc), mn, sc),
      (c, r) => c + r)
    vecs.filter(col("cid").isin(probeLists: _*))
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"),
        round(aggregate(
          zip_with(q, rec, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, e) => acc + e), 4).as("d_est"))
      .orderBy(col("d_est"), col("vec_id"))
      .limit(k)
  }

  /** The per-list SQ model: for each coarse list, per-dim min/max of
    * its residuals — ONE (cid, pos) aggregate, collect bounded by
    * nLists × dim (model-sized, the [[pqModel]] contract). A list
    * with no vectors keeps the zero model (nothing encodes under it).
    */
  private[graft] def sqPerListModel(residuals: DataFrame, nLists: Int,
      dim: Int): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val rows = residuals
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    val mins = Array.fill(nLists, dim)(0.0)
    val scales = Array.fill(nLists, dim)(0.0)
    rows.foreach { r =>
      val ci = r.getInt(0); val p = r.getInt(1)
      mins(ci)(p) = r.getDouble(2)
      scales(ci)(p) = (r.getDouble(3) - r.getDouble(2)) / 256.0
    }
    (mins.map(_.toSeq).toSeq, scales.map(_.toSeq).toSeq)
  }

  /** BQ threshold registry: per-dim corpus MEANS (decimal-exact sums,
    * [[trainCodebook]]'s portability recipe, so engine and oracle
    * derive bit-identical thresholds), memoized per (corpus, dim)
    * like the SQ models.
    */
  private val bqModels = scala.collection.mutable
    .Map.empty[(String, Int), Array[Double]]

  private[graft] def bqModel(t: Tables, dim: Int = 64): Array[Double] =
    bqModels.synchronized {
      bqModels.getOrElseUpdate((t.dir, dim), {
        graft.Registries.bump()
        bqModelFrom(t.embeddings
          .select(col("embedding").cast("array<double>").as("v")), dim)
      })
    }

  /** The BQ model over an arbitrary (…, v) frame: per-dim mean as ONE
    * map-side-partial aggregate, `dim` rows collected (model-sized,
    * the [[pqModel]] contract). Empty frame → all-zero thresholds
    * (plain sign quantization).
    */
  private[graft] def bqModelFrom(vecs: DataFrame,
      dim: Int): Array[Double] = {
    val rows = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 15)))
        .as("s"), count(lit(1)).as("n"))
      .collect()
    // dim is a contract, not a discovery: longer vectors would write
    // past the threshold array (AIOOBE deep in the driver), shorter
    // ones would silently zero-threshold the missing dims — name the
    // mismatch instead
    rows.foreach(r => require(r.getInt(0) < dim,
      s"vector dimension ${r.getInt(0) + 1} exceeds the declared " +
        s"dim=$dim — pass the embeddings' true dimension"))
    val means = Array.fill(dim)(0.0)
    rows.foreach { r =>
      means(r.getInt(0)) =
        r.getAs[java.math.BigDecimal](1).doubleValue / r.getLong(2)
    }
    means
  }

  /** The 1-bit signature: '1' where v_i exceeds its dimension's mean
    * — a pure projection that fuses with the scan (d4/d5's bit-string
    * form; production packs the 64 bits into ONE long so the Hamming
    * is a single XOR+POPCNT — the string layer is the oracle-parity
    * choice, exactly d4's). Compiled (ThresholdBits): the HOF form
    * (transform + element_at on the mean literal) evaluated
    * interpreted inside the serving scan.
    */
  private[graft] def bqBits(v: Column, means: Array[Double]): Column =
    Vectors.thresholdBits(v,
      new graft.expressions.PlaneMatrix(means, means.length))

  /** s17: BINARY-QUANTIZATION SEARCH — the 1-bit-per-dimension tier
    * BELOW SQ8 (the BQ layer of modern vector stores — Lucene/
    * Weaviate/Milvus BQ): each dimension keeps only its sign against
    * the corpus mean (8 B/vector at dim 64 — 32× under float32, 8×
    * under s12's SQ8), candidates are ranked by sketch HAMMING
    * distance (centered sign bits ≈ Charikar's axis-hyperplane
    * sketch: Hamming tracks angular distance), and only the
    * `shortlist` best pay the exact full-precision cosine — top-`k`
    * of the rerank is the answer. s2 differs in the model (random
    * hyperplanes + a threshold CUT sized to admit a corpus fraction);
    * BQ is the STORED-CODE form: the bit column is the index, the
    * shortlist is a fixed candidate budget, and recall comes from the
    * rerank, not the sketch.
    *
    * Scale: ONE corpus scan — the bit signature and the Hamming fuse
    * with the scan as projections, the shortlist is a distributed
    * TakeOrdered (never a global sort), the rerank touches exactly
    * `shortlist` rows, zero Exchange end-to-end (PlanSpec-locked).
    * At 100 TB the bit column is stored at ingest (the s12 pattern)
    * and the scan reads 8 B/vector; composes with IVF list pruning
    * (s14's layout) unchanged; both knobs (shortlist, nProbe) are
    * independent recall/cost dials.
    */
  def s17BqSearch(t: Tables, probeId: Long = 0L, dim: Int = 64,
      shortlist: Int = 50, k: Int = 10): DataFrame = {
    val means = bqModel(t, dim)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probeRow = vecs.filter(col("vec_id") === probeId)
      .select("v").collect().headOption
    if (probeRow.isEmpty)
      return vecs.select(col("vec_id"), lit(0).as("hamming"),
        lit(0.0).as("cos")).limit(0)
    bqSearchFrame(vecs.filter(col("vec_id") =!= probeId), means,
      probeRow.get.getSeq[Double](0), shortlist, k)
  }

  /** The s17 serving scan over any (vec_id, v) frame — batch entry
    * and the `Graft.bqSearch` facade share it verbatim. The query's
    * own bits are derived driver-side from the same threshold array
    * the scan projects against.
    */
  private[graft] def bqSearchFrame(vecs: DataFrame,
      means: Array[Double], queryVec: Seq[Double], shortlist: Int,
      k: Int): DataFrame = {
    val pbits = queryVec.zip(means)
      .map { case (x, m) => if (x > m) '1' else '0' }.mkString
    vecs
      .withColumn("hamming",
        Vectors.hamming(bqBits(col("v"), means), lit(pbits)))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"), col("hamming"),
        round(Vectors.cosine(col("v"), typedLit(queryVec)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** s18: MATRYOSHKA (MRL) TRUNCATED-PREFIX SEARCH — the
    * DIMENSION-cut serving tier (s17 cuts precision to 1 bit; s18
    * cuts dimensions to a prefix): Matryoshka-trained embeddings
    * carry a usable coarse representation in their first dims, so
    * serving ranks the corpus by cosine over `v[1..prefixDim]` only,
    * keeps the `shortlist` best, and reranks exactly those by
    * full-dimension cosine — top-`k` answers. The adaptive-retrieval
    * pattern of the MRL paper (Kusupati et al. 2022, §4.3
    * shortlist-and-rerank), and the funnel modern vector stores run
    * when the model ships nested dims.
    *
    * Scale: ONE corpus scan — the prefix slice + prefix cosine fuse
    * with the scan as projections, the shortlist is a distributed
    * TakeOrdered (never a global sort), the rerank touches exactly
    * `shortlist` rows, zero Exchange end-to-end (PlanSpec-locked).
    * At 100 TB the prefix is stored as its OWN column/table at
    * ingest so the shortlist scan reads prefixDim/dim of the bytes
    * (dim 64 → 32 halves the scan; real MRL funnels start at 1/8th);
    * composes with s14's IVF pruning and s17's bit tier — coarsest
    * first, each stage a recall/cost dial.
    */
  def s18MrlSearch(t: Tables, probeId: Long = 0L, prefixDim: Int = 32,
      shortlist: Int = 100, k: Int = 10): DataFrame = {
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probeRow = vecs.filter(col("vec_id") === probeId)
      .select("v").collect().headOption
    if (probeRow.isEmpty)
      return vecs.select(col("vec_id"), lit(0.0).as("pcos"),
        lit(0.0).as("cos")).limit(0)
    mrlSearchFrame(vecs.filter(col("vec_id") =!= probeId),
      probeRow.get.getSeq[Double](0), prefixDim, shortlist, k)
  }

  /** The s18 serving scan over any (vec_id, v) frame — batch entry
    * and the `Graft.mrlSearch` facade share it. Prefix cosine ranks
    * the shortlist; the exact full-dim cosine ranks the answer; both
    * surface (pcos, cos) rounded for the hash gate.
    */
  private[graft] def mrlSearchFrame(vecs: DataFrame,
      queryVec: Seq[Double], prefixDim: Int, shortlist: Int,
      k: Int): DataFrame = {
    val qp = typedLit(queryVec.take(prefixDim))
    val q = typedLit(queryVec)
    vecs
      .withColumn("pc",
        Vectors.cosine(slice(col("v"), 1, prefixDim), qp))
      .orderBy(col("pc").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"),
        round(col("pc"), 4).as("pcos"),
        round(Vectors.cosine(col("v"), q), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** s19: FILTERED VECTOR SEARCH — the metadata-predicate + ANN
    * combination every production vector store ships (Qdrant/
    * Weaviate/Milvus filtered search, pgvector WHERE + <=>): top-`k`
    * by cosine among ONLY the rows passing a structured predicate
    * (here: the probe's own `label` class — "neighbors within my
    * category"), served from the IVF index, with the predicate FUSED
    * into the pruned list scan (filter-during-search, not
    * post-filtering — post-filtering top-k-then-filter returns
    * FEWER than k whenever the filter bites, the classic bug).
    *
    * The selectivity interaction is the real design point: a
    * selective filter thins every list — on this corpus a naive
    * nProbe 4 measures recall 0.3 vs the filtered brute force — so
    * the planner OVER-PROBES by the measured selectivity:
    * nProbe_eff = min(nLists, ⌈nProbeBase · n / n_admissible⌉). A
    * very selective filter collapses the cut to ALL lists — i.e.
    * exact search over the admissible set — which is precisely what
    * production planners do past a selectivity threshold (Qdrant's
    * query planner switches from HNSW to payload-index + exact
    * scoring); a permissive filter keeps real IVF pruning. The
    * admissible count is ONE aggregate here and an O(1)
    * payload-index cardinality lookup in production; the oracle
    * derives the SAME ⌈·⌉ from live counts (the s2 tauCut pattern),
    * so engine and oracle stay coupled at every scale.
    *
    * Scale: s14's de-shuffled serving shape — the cid assignment,
    * the label predicate and the cosine all fuse with ONE corpus
    * scan (projection + Filter + TakeOrdered, zero Exchange,
    * PlanSpec-locked); at 100 TB the index is cid-partitioned with
    * label as a stored column (or a per-list posting bitmap), so the
    * filter prunes row groups via predicate pushdown before a single
    * vector is read.
    */
  def s19FilteredAnn(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbeBase: Int = 2, dim: Int = 64, k: Int = 10,
      nProbeOverride: Option[Int] = None): DataFrame = {
    val cb = assignedVecs(t, nLists)._2
    val probe = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("v"),
        col("label"),
        Vectors.centroidRanks(
          col("embedding").cast("array<double>"), cb).as("ranks"))
      .collect().headOption
    if (probe.isEmpty)
      return t.embeddings.select(col("vec_id"), col("label"),
        lit(0.0).as("cos")).limit(0)
    val pv = probe.get.getSeq[Double](0)
    val pLabel = probe.get.getInt(1)
    // by-name default: an explicit override must not pay the
    // selectivity aggregate it exists to bypass
    val nProbeEff = nProbeOverride.getOrElse {
      val counts = t.embeddings.agg(count(lit(1)),
        count(when(col("label") === pLabel &&
          col("vec_id") =!= probeId, 1))).collect()(0)
      math.min(nLists, math.ceil(nProbeBase.toDouble *
        counts.getLong(0) / math.max(1L, counts.getLong(1))).toInt)
    }
    val pls = probe.get.getSeq[Int](2).take(nProbeEff)
    t.embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("cid",
        Vectors.centroidTop1(col("v"), cb))
      .filter(col("cid").isin(pls: _*) && col("label") === pLabel &&
        col("vec_id") =!= probeId)
      .select(col("vec_id"), col("label"),
        round(Vectors.cosine(col("v"), typedLit(pv)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** s20: THE COMPOSED FUNNEL — IVF coarse prune → BQ Hamming
    * shortlist → exact rerank, the three tiers this family ships
    * run TOGETHER (the modern vector-store serving funnel:
    * coarsest-first, every stage a recall/cost dial). s17's scaladoc
    * claims the bit tier "composes with IVF list pruning unchanged";
    * s20 is that claim as an oracle-gated operator: the probe's
    * `nProbe` nearest lists bound the candidate pool, the 1-bit
    * signatures rank it, only the `shortlist` best pay the exact
    * cosine, top-`k` answers. The BQ model stays CORPUS-trained
    * (quantizers are trained offline corpus-wide, applied per pool).
    *
    * Scale: still ONE corpus scan — the cid assignment, the bit
    * signature and the Hamming all fuse with it (zero Exchange,
    * PlanSpec-locked). At 100 TB the scan cost multiplies the
    * tiers' savings: cid partition pruning reads nProbe/nLists of
    * the files, each at 8 bit-bytes/vector instead of 512 — the
    * funnel is why serving a trillion vectors reads gigabytes, not
    * terabytes.
    */
  def s20FunnelSearch(t: Tables, probeId: Long = 0L, nLists: Int = 16,
      nProbe: Int = 4, dim: Int = 64, shortlist: Int = 50,
      k: Int = 10): DataFrame = {
    val cb = assignedVecs(t, nLists)._2
    val means = bqModel(t, dim)
    val probe = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("v"),
        slice(Vectors.centroidRanks(
          col("embedding").cast("array<double>"), cb), 1, nProbe)
          .as("pls"))
      .collect().headOption
    if (probe.isEmpty)
      return t.embeddings.select(col("vec_id"), lit(0).as("hamming"),
        lit(0.0).as("cos")).limit(0)
    val pv = probe.get.getSeq[Double](0)
    val pls = probe.get.getSeq[Int](1)
    val pbits = pv.zip(means)
      .map { case (x, m) => if (x > m) '1' else '0' }.mkString
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid",
        Vectors.centroidTop1(col("v"), cb))
      .filter(col("cid").isin(pls: _*) && col("vec_id") =!= probeId)
      .withColumn("hamming",
        Vectors.hamming(bqBits(col("v"), means), lit(pbits)))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"), col("hamming"),
        round(Vectors.cosine(col("v"), typedLit(pv)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** SQ model + encode replay assuming a `vv(vec_id, v)` CTE is
    * already in scope: per-dim min/max `mm` and the per-(vec, dim)
    * coded rows c(vec_id, i, x, mn, sc, code) every SQ oracle reads.
    */
  private def sqModelCtes(dim: Int): String =
    s"""mm AS (
       |  SELECT i, min(v[CAST(i AS INT)]) AS mn, max(v[CAST(i AS INT)]) AS mx
       |  FROM vv, (SELECT unnest(range(1, ${dim + 1})) AS i) ii
       |  GROUP BY i),
       |c AS (
       |  SELECT vec_id, i, v[CAST(i AS INT)] AS x, mn, (mx - mn) / 256 AS sc,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(LEAST(255.0, GREATEST(0.0,
       |           floor((v[CAST(i AS INT)] - mn) / ((mx - mn) / 256)))) AS INT)
       |    END AS code
       |  FROM vv CROSS JOIN mm)""".stripMargin

  /** Shared SQ replay CTEs: the corpus view + [[sqModelCtes]]. */
  private def sqReplayCtes(dim: Int): String =
    s"""vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${sqModelCtes(dim)}""".stripMargin

  /** s10 oracle: the s3 coarse replay, the residual derivation over
    * the final assignment, then s5's per-subspace Lloyd's replay with
    * the residual frame as its training source.
    */
  private def pqResidualOracleSql(m: Int, k: Int, iters: Int,
      dim: Int): String = {
    val sub = dim / m
    val subs = (0 until m)
      .map(pqSubspaceCte(_, sub, k, iters, src = "rv")).mkString(",\n")
    val joins = (1 until m).map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(mi => s"code$mi").mkString(", ")
    val errSum = (0 until m).map(mi => s"err$mi").mkString(" + ")
    s"""WITH $kmeansReplayCte,
       |rv AS (
       |  SELECT a.vec_id,
       |    list_transform(range(1, ${dim + 1}),
       |      i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS v
       |  FROM af a JOIN (SELECT cid, v AS cv FROM c3) c USING (cid)),
       |$subs
       |SELECT vec_id, $codes, round($errSum, 4) AS qerr
       |FROM e0 $joins ORDER BY vec_id""".stripMargin
  }

  /** L2² distances of a subvector to each codeword, as one array
    * column: d_j = sv·sv − 2·sv·c_j + c_j·c_j with the c_j·c_j term a
    * driver constant (ascending-index fold — the same sequential sum
    * DuckDB's list_dot_product computes over the derived codewords,
    * so the doubles match bitwise).
    */
  private def pqDists(sv: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.map { cw =>
      val cc = cw.foldLeft(0.0)((a, x) => a + x * x)
      Vectors.dot(sv, sv) - lit(2.0) * Vectors.dot(sv, typedLit(cw.toSeq)) +
        lit(cc)
    }: _*)

  /** Train ALL m PQ sub-codebooks CONCURRENTLY (guide §2.6 — each
    * subspace's Lloyd's chain is an independent seed + `iters` rounds
    * over the same frame; sequentially they were m×(iters+1) driver
    * round-trips). Per-subspace training is deterministic, so the
    * books are identical to the sequential Array.tabulate form.
    */
  private[graft] def trainPqBooks(vecs: DataFrame, m: Int, sub: Int,
      k: Int, iters: Int): Array[Array[Array[Double]]] =
    graft.Concurrent.settleAll(vecs.sparkSession)((0 until m).map(mi =>
      s"pq: train subspace $mi" -> (() =>
        trainPqSub(vecs, mi * sub, sub, k, iters)))).toArray

  /** Per-subspace Lloyd's with L2 assignment (argmin distance, ties
    * to the lower cid — array_position's first-match rule), decimal-
    * exact per-dimension means, empty clusters keeping their previous
    * codeword (clone semantics) — [[trainCodebook]] specialized to a
    * slice with Euclidean geometry (PQ's metric).
    */
  private[graft] def trainPqSub(vecs: DataFrame, off: Int, sub: Int, k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = vecs.orderBy("vec_id").limit(k)
      .select("v").collect()
      .map(_.getSeq[Double](0).slice(off, off + sub).toArray)
    for (_ <- 1 to iters) {
      val sums = vecs
        .select(slice(col("v"), off + 1, sub).as("sv"))
        .withColumn("darr", pqDists(col("sv"), cents))
        .select((array_position(col("darr"), array_min(col("darr"))) - 1)
          .cast("int").as("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 15)))
          .as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cid"))(r.getAs[Int]("pos")) =
          r.getAs[java.math.BigDecimal]("s").doubleValue / r.getAs[Long]("n")
      }
      cents = next
    }
    cents
  }

  /** DuckDB replay of one subspace of the s5 oracle: seed, `iters`
    * Lloyd's rounds, final argmin encode — the kmeansReplayCte
    * pattern with L2 in place of cosine, generated per subspace.
    */
  private[graft] def pqDistSql(svT: String, cvT: String): String =
    s"list_dot_product($svT, $svT) - 2*list_dot_product($svT, $cvT)" +
      s" + list_dot_product($cvT, $cvT)"

  private[graft] def pqSubspaceCte(mi: Int, sub: Int, k: Int, iters: Int,
      src: String = "vv"): String = {
    val off = mi * sub
    def dist(svT: String, cvT: String) = pqDistSql(svT, cvT)
    val seed =
      s"""s$mi AS (SELECT vec_id, v[${off + 1}:${off + sub}] AS sv FROM $src),
         |c${mi}_0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |         sv AS cv
         |  FROM (SELECT vec_id, sv FROM s$mi ORDER BY vec_id LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map { j =>
      s"""a${mi}_$j AS (
         |  SELECT vec_id, sv, cid FROM (
         |    SELECT s.vec_id, s.sv, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        ${dist("s.sv", "c.cv")} ASC, c.cid) AS rn
         |    FROM s$mi s, c${mi}_${j - 1} c) t WHERE rn = 1),
         |u${mi}_$j AS (
         |  SELECT cid, i,
         |    CAST(sum(CAST(sv[CAST(i AS INT)] AS DECIMAL(38,15))) AS DOUBLE)
         |      / count(*) AS x
         |  FROM a${mi}_$j, (SELECT unnest(range(1, ${sub + 1})) AS i) ii
         |  GROUP BY cid, i),
         |c${mi}_$j AS (
         |  SELECT p.cid, CASE WHEN u.uv IS NULL THEN p.cv ELSE u.uv END AS cv
         |  FROM c${mi}_${j - 1} p LEFT JOIN
         |    (SELECT cid, list(x ORDER BY i) AS uv FROM u${mi}_$j GROUP BY cid) u
         |    USING (cid))""".stripMargin
    }
    val enc =
      s"""e$mi AS (
         |  SELECT vec_id, cid AS code$mi, d AS err$mi FROM (
         |    SELECT s.vec_id, c.cid, ${dist("s.sv", "c.cv")} AS d,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        ${dist("s.sv", "c.cv")} ASC, c.cid) AS rn
         |    FROM s$mi s, c${mi}_$iters c) t WHERE rn = 1)""".stripMargin
    (seed +: rounds :+ enc).mkString(",\n")
  }

  /** Shared replay prefix: vv + all m subspace trainings/encodes. */
  private def pqReplayCtes(m: Int, k: Int, iters: Int, dim: Int): String = {
    val sub = dim / m
    val subs = (0 until m).map(pqSubspaceCte(_, sub, k, iters)).mkString(",\n")
    s"""vv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |$subs""".stripMargin
  }

  private def pqOracleSql(m: Int, k: Int, iters: Int, dim: Int): String = {
    val joins = (1 until m).map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(mi => s"code$mi").mkString(", ")
    val errSum = (0 until m).map(mi => s"err$mi").mkString(" + ")
    s"""WITH ${pqReplayCtes(m, k, iters, dim)}
       |SELECT vec_id, $codes, round($errSum, 4) AS qerr
       |FROM e0 $joins ORDER BY vec_id""".stripMargin
  }

  /** s6 oracle: the s5 replay + the probe's per-subspace ADC tables
    * + the lookup-sum estimate, rounded then top-10.
    */
  private def pqSearchOracleSql(m: Int, k: Int, iters: Int,
      dim: Int): String = {
    val dts = (0 until m).map { mi =>
      s"""dt$mi AS (
         |  SELECT c.cid, ${pqDistSql("p.sv", "c.cv")} AS dd
         |  FROM (SELECT sv FROM s$mi WHERE vec_id = 0) p, c${mi}_$iters c)"""
        .stripMargin
    }.mkString(",\n")
    val eJoins = (1 until m).map(mi => s"JOIN e$mi USING (vec_id)").mkString(" ")
    val tJoins = (0 until m)
      .map(mi => s"JOIN dt$mi t$mi ON t$mi.cid = e$mi.code$mi").mkString(" ")
    val estSum = (0 until m).map(mi => s"t$mi.dd").mkString(" + ")
    s"""WITH ${pqReplayCtes(m, k, iters, dim)},
       |$dts
       |SELECT e0.vec_id, round($estSum, 4) AS d_est
       |FROM e0 $eJoins $tJoins
       |WHERE e0.vec_id <> 0
       |ORDER BY d_est, e0.vec_id LIMIT 10""".stripMargin
  }

  /** One Lloyd's-iteration CTE triple for the s3 oracle: assignment
    * under the previous codebook (argmax cosine, ties to the lower
    * cid — CentroidRanks' exact order), then the decimal-exact mean
    * update, keeping the previous centroid for empty clusters
    * (trainCodebook's `cents.clone()` semantics).
    */
  private def kmeansIterSql(i: Int, tv: String = "vv"): String =
    s"""a$i AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT $tv.vec_id, $tv.v, cc.cid,
       |      row_number() OVER (PARTITION BY $tv.vec_id ORDER BY
       |        list_dot_product($tv.v, cc.cv) /
       |        (sqrt(list_dot_product($tv.v, $tv.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
       |        cc.cid) AS rn
       |    FROM $tv, (SELECT cid, v AS cv FROM c${i - 1}) cc) t
       |  WHERE rn = 1),
       |u$i AS (
       |  SELECT cid, i,
       |    CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,15))) AS DOUBLE) / count(*) AS x
       |  FROM a$i, (SELECT unnest(range(1, 65)) AS i) ii
       |  GROUP BY cid, i),
       |c$i AS (
       |  SELECT p.cid, CASE WHEN u.uv IS NULL THEN p.v ELSE u.uv END AS v
       |  FROM c${i - 1} p LEFT JOIN
       |    (SELECT cid, list(x ORDER BY i) AS uv FROM u$i GROUP BY cid) u
       |    USING (cid))""".stripMargin

  /** [[trainCodebook]]'s full SQL replay over any (vec_id, v) CTE
    * pair: seed = first `nlSql` vectors of the TRAINING set `tv` by
    * id, three decimal-exact Lloyd's iterations over `tv`, final
    * assignment `af(vec_id, v, cid)` over the FULL corpus `vv`
    * (trainCodebookSampled's shape: train on the sample, assign
    * everything). `nlSql` may be a literal or a scalar subquery —
    * p3's replay derives it from the live chunk count exactly like
    * [[ivfConfigFor]].
    */
  private[graft] def kmeansReplayCteOver(vv: String, tv: String,
      nlSql: String): String = {
    val iters = (1 to 3).map(kmeansIterSql(_, tv)).mkString(",\n")
    s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
       |  FROM (SELECT vec_id, v FROM $tv ORDER BY vec_id LIMIT $nlSql) s),
       |$iters,
       |af AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT $vv.vec_id, $vv.v, cc.cid,
       |      row_number() OVER (PARTITION BY $vv.vec_id ORDER BY
       |        list_dot_product($vv.v, cc.cv) /
       |        (sqrt(list_dot_product($vv.v, $vv.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
       |        cc.cid) AS rn
       |    FROM $vv, (SELECT cid, v AS cv FROM c3) cc) t
       |  WHERE rn = 1)""".stripMargin
  }

  /** Shared SQL replay of the trained-codebook assignment: seeded
    * codebook (first 16 vectors by id), three decimal-exact Lloyd's
    * iterations, and the final assignment `af(vec_id, v, cid)` —
    * the prefix of the s3 oracle, reused by d9's semantic dedup.
    */
  private[graft] lazy val kmeansReplayCte: String =
    s"""vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${kmeansReplayCteOver("vv", "vv", "16")}""".stripMargin

  val oracle: Map[String, String] = Map(
    // per-subspace L2 k-means replay (seed + 2 Lloyd's rounds + argmin
    // encode, generated per subspace) joined on vec_id
    "s5_pq_encode" -> pqOracleSql(4, 4, 2, 64),
    // replay + ADC lookup tables + estimate sum, rounded top-10
    "s6_pq_search" -> pqSearchOracleSql(4, 4, 2, 64),
    // d5's candidate construction, symmetrized, then the per-vector
    // rank window over ROUNDED cosines (identical tie-break)
    "s4_knn_join" ->
      s"""WITH ${Dedup.hyperplaneCandCte},
         |sym AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM cand
         |  UNION ALL SELECT vec_b, vec_a FROM cand),
         |c AS (
         |  SELECT src, dst,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
         |  FROM sym JOIN vv a ON a.vec_id = src JOIN vv b ON b.vec_id = dst),
         |r AS (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |  FROM c)
         |SELECT src, rank, dst, cos FROM r WHERE rank <= 3
         |ORDER BY src, rank""".stripMargin,
    // both trainings replayed (s3's coarse k-means + s5's per-
    // subspace Lloyd's), probe-list choice, ADC tables, pruned
    // lookup-sum ranking
    "s9_ivfpq_search" -> ivfPqOracleSql(2, 4, 4, 2, 64),
    // the s9 replay widened to the 40-candidate ADC shortlist, then
    // the exact-L2² refinement over raw vectors and the final top-10
    "s11_ivfpq_rerank" -> ivfPqRerankOracleSql(2, 4, 4, 2, 64, 40, 10),
    // coarse replay → residual derivation over the final assignment →
    // s5's per-subspace Lloyd's replay trained on the residuals
    "s10_pq_residual" -> pqResidualOracleSql(4, 4, 2, 64),
    // s15's full replay (coarse k-means → residuals → per-list
    // min/max → codes) restricted to the probe's pruned lists, then
    // the asymmetric L2² of the query against centroid + decoded
    // residual — top-10 by (d_est, vec_id)
    "s16_ivfsq_perlist_search" ->
      s"""WITH $kmeansReplayCte,
         |rv AS (
         |  SELECT a.vec_id, a.cid,
         |    list_transform(range(1, 65),
         |      i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS v
         |  FROM af a JOIN (SELECT cid, v AS cv FROM c3) c USING (cid)),
         |rc AS (
         |  SELECT vec_id, cid, i, v[CAST(i AS INT)] AS x
         |  FROM rv, (SELECT unnest(range(1, 65)) AS i) ii),
         |mm AS (
         |  SELECT cid, i, min(x) AS mn, max(x) AS mx
         |  FROM rc GROUP BY cid, i),
         |pr AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid, row_number() OVER (ORDER BY
         |      list_dot_product(p.v, cc.cv) /
         |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |      cc.cid) AS rn
         |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
         |         (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT a.vec_id FROM af a JOIN pr ON a.cid = pr.cid
         |  WHERE a.vec_id <> 0),
         |cvd AS (
         |  SELECT cid, i, v[CAST(i AS INT)] AS cv
         |  FROM c3, (SELECT unnest(range(1, 65)) AS i) ii),
         |code_rows AS (
         |  SELECT rc.vec_id, rc.i, rc.cid, mm.mn,
         |    (mm.mx - mm.mn) / 256 AS sc,
         |    CASE WHEN mm.mx = mm.mn THEN 0
         |         ELSE CAST(LEAST(255.0, GREATEST(0.0,
         |           floor((rc.x - mm.mn) / ((mm.mx - mm.mn) / 256)))) AS INT)
         |    END AS code
         |  FROM rc JOIN mm ON rc.cid = mm.cid AND rc.i = mm.i
         |  JOIN cand USING (vec_id)),
         |p AS (
         |  SELECT i, v[CAST(i AS INT)] AS qx
         |  FROM (SELECT v FROM vv WHERE vec_id = 0),
         |       (SELECT unnest(range(1, 65)) AS i) ii),
         |d AS (
         |  SELECT cr.vec_id,
         |    round(list_sum(list(
         |      (p.qx - (cvd.cv + (cr.mn + (cr.code + 0.5) * cr.sc))) *
         |      (p.qx - (cvd.cv + (cr.mn + (cr.code + 0.5) * cr.sc)))
         |      ORDER BY cr.i)), 4) AS d_est
         |  FROM code_rows cr
         |  JOIN cvd ON cvd.cid = cr.cid AND cvd.i = cr.i
         |  JOIN p ON p.i = cr.i
         |  GROUP BY cr.vec_id)
         |SELECT vec_id, d_est FROM d
         |ORDER BY d_est, vec_id LIMIT 10""".stripMargin,
    // coarse k-means replay → residual derivation (s10's CTE) →
    // PER-LIST per-dim min/max → floor-encode + reconstruction error
    "s15_sq_perlist" ->
      s"""WITH $kmeansReplayCte,
         |rv AS (
         |  SELECT a.vec_id, a.cid,
         |    list_transform(range(1, 65),
         |      i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS v
         |  FROM af a JOIN (SELECT cid, v AS cv FROM c3) c USING (cid)),
         |rc AS (
         |  SELECT vec_id, cid, i, v[CAST(i AS INT)] AS x
         |  FROM rv, (SELECT unnest(range(1, 65)) AS i) ii),
         |mm AS (
         |  SELECT cid, i, min(x) AS mn, max(x) AS mx
         |  FROM rc GROUP BY cid, i),
         |cc AS (
         |  SELECT rc.vec_id, rc.i, rc.x, mm.mn, (mm.mx - mm.mn) / 256 AS sc,
         |    CASE WHEN mm.mx = mm.mn THEN 0
         |         ELSE CAST(LEAST(255.0, GREATEST(0.0,
         |           floor((rc.x - mm.mn) / ((mm.mx - mm.mn) / 256)))) AS INT)
         |    END AS code
         |  FROM rc JOIN mm ON rc.cid = mm.cid AND rc.i = mm.i),
         |e AS (
         |  SELECT vec_id,
         |    string_agg(CAST(code AS VARCHAR), '-' ORDER BY i) AS codes,
         |    round(list_sum(list(
         |      (x - (mn + (code + 0.5) * sc)) * (x - (mn + (code + 0.5) * sc))
         |      ORDER BY i)), 4) AS qerr
         |  FROM cc GROUP BY vec_id)
         |SELECT vec_id, codes, qerr FROM e ORDER BY vec_id""".stripMargin,
    // per-dim min/max model replay + floor-encode + bucket-center
    // reconstruction error, dash-joined code string per vector
    "s12_sq_encode" ->
      s"""WITH ${sqReplayCtes(64)},
         |e AS (
         |  SELECT vec_id,
         |    string_agg(CAST(code AS VARCHAR), '-' ORDER BY i) AS codes,
         |    round(list_sum(list(
         |      (x - (mn + (code + 0.5) * sc)) * (x - (mn + (code + 0.5) * sc))
         |      ORDER BY i)), 4) AS qerr
         |  FROM c GROUP BY vec_id)
         |SELECT vec_id, codes, qerr FROM e ORDER BY vec_id""".stripMargin,
    // both models replayed (s3's coarse k-means for the list pruning,
    // the SQ min/max for the scoring) — probe-list choice, then the
    // asymmetric L2² ranking restricted to the pruned lists
    "s14_ivfsq_search" ->
      s"""WITH $kmeansReplayCte,
         |${sqModelCtes(64)},
         |pr AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid, row_number() OVER (ORDER BY
         |      list_dot_product(p.v, cc.cv) /
         |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |      cc.cid) AS rn
         |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
         |         (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT a.vec_id FROM af a JOIN pr ON a.cid = pr.cid
         |  WHERE a.vec_id <> 0),
         |p AS (SELECT i, x AS qx FROM c WHERE vec_id = 0),
         |d AS (
         |  SELECT c.vec_id,
         |    round(list_sum(list(
         |      (p.qx - (c.mn + (c.code + 0.5) * c.sc)) *
         |      (p.qx - (c.mn + (c.code + 0.5) * c.sc)) ORDER BY c.i)), 4)
         |      AS d_est
         |  FROM c JOIN cand USING (vec_id) JOIN p USING (i)
         |  GROUP BY c.vec_id)
         |SELECT vec_id, d_est FROM d ORDER BY d_est, vec_id LIMIT 10"""
        .stripMargin,
    // the same replay + the probe's full-precision row vs every
    // vector's reconstruction: asymmetric L2², rounded top-10
    "s13_sq_search" ->
      s"""WITH ${sqReplayCtes(64)},
         |p AS (SELECT i, x AS qx FROM c WHERE vec_id = 0),
         |d AS (
         |  SELECT c.vec_id,
         |    round(list_sum(list(
         |      (p.qx - (c.mn + (c.code + 0.5) * c.sc)) *
         |      (p.qx - (c.mn + (c.code + 0.5) * c.sc)) ORDER BY c.i)), 4)
         |      AS d_est
         |  FROM c JOIN p USING (i)
         |  WHERE c.vec_id <> 0 GROUP BY c.vec_id)
         |SELECT vec_id, d_est FROM d ORDER BY d_est, vec_id LIMIT 10"""
        .stripMargin,
    // the k-means replay (s3's CTE) + BOTH towers per probe: exact
    // brute-force top-10 and IVF pruned-list top-10 over rounded
    // cosines with id tie-breaks, intersected per probe
    "s8_ann_recall" ->
      s"""WITH $kmeansReplayCte,
         |probes AS (SELECT vec_id AS pid, v AS pv FROM vv WHERE vec_id < 8),
         |ex AS (
         |  SELECT pid, vec_id FROM (
         |    SELECT p.pid, a.vec_id,
         |      row_number() OVER (PARTITION BY p.pid ORDER BY
         |        round(list_dot_product(a.v, p.pv) /
         |          (sqrt(list_dot_product(a.v, a.v)) *
         |           sqrt(list_dot_product(p.pv, p.pv))), 4) DESC,
         |        a.vec_id) AS rn
         |    FROM vv a, probes p WHERE a.vec_id <> p.pid) t
         |  WHERE rn <= 10),
         |pr AS (
         |  SELECT pid, cid FROM (
         |    SELECT p.pid, cc.cid,
         |      row_number() OVER (PARTITION BY p.pid ORDER BY
         |        list_dot_product(p.pv, cc.cv) /
         |        (sqrt(list_dot_product(p.pv, p.pv)) *
         |         sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |        cc.cid) AS rn
         |    FROM probes p, (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= 2),
         |ap AS (
         |  SELECT pid, vec_id FROM (
         |    SELECT p.pid, a.vec_id,
         |      row_number() OVER (PARTITION BY p.pid ORDER BY
         |        round(list_dot_product(a.v, p.pv) /
         |          (sqrt(list_dot_product(a.v, a.v)) *
         |           sqrt(list_dot_product(p.pv, p.pv))), 4) DESC,
         |        a.vec_id) AS rn
         |    FROM af a JOIN pr ON a.cid = pr.cid
         |    JOIN probes p ON p.pid = pr.pid
         |    WHERE a.vec_id <> p.pid) t
         |  WHERE rn <= 10)
         |SELECT e.pid AS probe_id,
         |  CAST(count(a.vec_id) AS BIGINT) AS n_hit,
         |  floor(count(a.vec_id) / 10 * 10000 + 0.5) / 10000.0 AS recall
         |FROM ex e LEFT JOIN ap a
         |  ON a.pid = e.pid AND a.vec_id = e.vec_id
         |GROUP BY e.pid ORDER BY probe_id""".stripMargin,
    // full replay of s3: seeded codebook (first 16 vectors by id),
    // three decimal-exact Lloyd's iterations, assignment + nProbe=2
    // probe lists under the final codebook, exact-cosine top-10
    "s3_ann_ivf" -> {
      s"""WITH $kmeansReplayCte,
         |pr AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid, row_number() OVER (ORDER BY
         |      list_dot_product(p.v, cc.cv) /
         |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |      cc.cid) AS rn
         |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
         |         (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= 2),
         |p AS (SELECT v AS pv FROM vv WHERE vec_id = 0)
         |SELECT a.vec_id,
         |  round(list_dot_product(a.v, pv) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(pv, pv))), 4) AS cos
         |FROM af a JOIN pr ON a.cid = pr.cid, p
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin
    },
    // mirrors hyperplaneSig(512 planes, same md5-seeded constants as
    // d5's oracle) + the Hamming-cut prefilter + exact-cosine top-10;
    // the cut is DERIVED in SQL from the engine's own min(defaultTau,
    // tauFor) math (tauCutSql: hammingCdf literals + the live corpus
    // count) so the two engines can never drift apart at any scale
    "s2_ann_lsh" ->
      s"""WITH ${tauCutSql(512, math.max(1024L, 64L * 10))},
         |pl AS (
         |  SELECT h, i,
         |    ((CASE WHEN ascii(substring(md5(h || ':' || i), 1, 1)) >= 97
         |       THEN ascii(substring(md5(h || ':' || i), 1, 1)) - 87
         |       ELSE ascii(substring(md5(h || ':' || i), 1, 1)) - 48 END) * 16 +
         |     (CASE WHEN ascii(substring(md5(h || ':' || i), 2, 1)) >= 97
         |       THEN ascii(substring(md5(h || ':' || i), 2, 1)) - 87
         |       ELSE ascii(substring(md5(h || ':' || i), 2, 1)) - 48 END)) / 255.0 * 2 - 1 AS w
         |  FROM (SELECT unnest(range(0, 512)) AS h), (SELECT unnest(range(0, 64)) AS i)),
         |pls AS (SELECT h, list(w ORDER BY i) AS pw FROM pl GROUP BY h),
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (
         |  SELECT vec_id, h,
         |    CASE WHEN list_dot_product(v, pw) >= 0 THEN 1 ELSE 0 END AS bit
         |  FROM vv, pls),
         |ham AS (
         |  SELECT b.vec_id, sum(CASE WHEN b.bit <> p.bit THEN 1 ELSE 0 END) AS ham
         |  FROM bits b JOIN bits p ON p.h = b.h
         |  WHERE p.vec_id = 0 AND b.vec_id <> 0
         |  GROUP BY b.vec_id),
         |cand AS (SELECT vec_id FROM ham WHERE ham <= (SELECT cut FROM cut)),
         |p AS (SELECT v AS pv FROM vv WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  round(list_dot_product(v.v, pv) /
         |        (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(pv, pv))), 4) AS cos
         |FROM cand c JOIN vv v ON v.vec_id = c.vec_id, p
         |ORDER BY cos DESC, c.vec_id LIMIT 10""".stripMargin,
    // greedy MMR replayed as a recursive CTE: candidate cut, pairwise
    // rounded sims, one LATERAL argmax per step with (score desc, id)
    // tie-break — the same loop the Scala side runs on the collected
    // candidates
    "s7_mmr_rerank" ->
      """WITH RECURSIVE
        |p AS (SELECT CAST(embedding AS DOUBLE[]) AS pv
        |      FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, v, round(list_dot_product(v, pv) /
        |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 4) AS rel
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings WHERE vec_id <> 0), p
        |  ORDER BY rel DESC, vec_id LIMIT 20),
        |sims AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |mmr(step, sel, picked, rel, score) AS (
        |  SELECT * FROM (
        |    SELECT 1 AS step, [c.vec_id] AS sel, c.vec_id AS picked, c.rel,
        |      round(0.7 * c.rel, 6) AS score
        |    FROM cand c ORDER BY score DESC, c.vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT m.step + 1, list_append(m.sel, w.vec_id), w.vec_id, w.rel, w.score
        |  FROM mmr m, LATERAL (
        |    SELECT c.vec_id, c.rel,
        |      round(0.7 * c.rel - 0.3 * (SELECT max(s.sim) FROM sims s
        |             WHERE s.ida = c.vec_id AND list_contains(m.sel, s.idb)), 6) AS score
        |    FROM cand c WHERE NOT list_contains(m.sel, c.vec_id)
        |    ORDER BY score DESC, c.vec_id LIMIT 1) w
        |  WHERE m.step < 5)
        |SELECT step AS rank, picked AS doc_id, rel, score AS mmr
        |FROM mmr ORDER BY rank""".stripMargin,
    "s1_ann_bruteforce" ->
      """WITH p AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = 0),
        |v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id,
        |  round(list_dot_product(v, pv) /
        |        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 4) AS cos
        |FROM v, p ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // full BQ replay: decimal-exact per-dim means, sign bits, Hamming
    // against the probe's bits, rank-window shortlist of 50, exact
    // cosine rerank — engine and oracle share every threshold
    "s17_bq_search" ->
      """WITH vv AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mu AS (
        |  SELECT i, CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,15)))
        |              AS DOUBLE) / count(*) AS m
        |  FROM vv, (SELECT unnest(range(1, 65)) AS i) ii
        |  GROUP BY i),
        |ml AS (SELECT list(m ORDER BY i) AS ms FROM mu),
        |bb AS (
        |  SELECT vec_id, v, array_to_string(
        |    [CASE WHEN v[CAST(i AS INT)] > ms[CAST(i AS INT)]
        |          THEN '1' ELSE '0' END
        |     FOR i IN range(1, 65)], '') AS bits
        |  FROM vv CROSS JOIN ml),
        |p AS (SELECT v AS pv, bits AS pbits FROM bb WHERE vec_id = 0),
        |h AS (
        |  SELECT vec_id, v,
        |    len(list_filter(range(1, 65),
        |        i -> substring(bits, CAST(i AS INT), 1)
        |          <> substring(pbits, CAST(i AS INT), 1))) AS hamming
        |  FROM bb, p WHERE vec_id <> 0),
        |sl AS (
        |  SELECT vec_id, v, hamming,
        |    row_number() OVER (ORDER BY hamming, vec_id) AS rk
        |  FROM h),
        |r AS (
        |  SELECT vec_id, hamming,
        |    round(list_dot_product(v, pv) /
        |          (sqrt(list_dot_product(v, v)) *
        |           sqrt(list_dot_product(pv, pv))), 4) AS cos
        |  FROM sl, p WHERE rk <= 50)
        |SELECT vec_id, hamming, cos FROM r
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // full MRL replay: prefix-32 cosine ranks a rank-window shortlist
    // of 100, the exact full-dim cosine reranks — identical doubles
    // in both engines (list_dot_product = the sequential fold), so
    // the shortlist cut and the answer agree bit-for-bit
    "s18_mrl_search" ->
      """WITH vv AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT v AS pv FROM vv WHERE vec_id = 0),
        |h AS (
        |  SELECT vec_id, v,
        |    list_dot_product(v[1:32], pv[1:32]) /
        |      (sqrt(list_dot_product(v[1:32], v[1:32])) *
        |       sqrt(list_dot_product(pv[1:32], pv[1:32]))) AS pc
        |  FROM vv, p WHERE vec_id <> 0),
        |sl AS (
        |  SELECT vec_id, v, pc,
        |    row_number() OVER (ORDER BY pc DESC, vec_id) AS rk
        |  FROM h),
        |r AS (
        |  SELECT vec_id, round(pc, 4) AS pcos,
        |    round(list_dot_product(v, pv) /
        |          (sqrt(list_dot_product(v, v)) *
        |           sqrt(list_dot_product(pv, pv))), 4) AS cos
        |  FROM sl, p WHERE rk <= 100)
        |SELECT vec_id, pcos, cos FROM r
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // the full funnel replayed: k-means lists + the probe's top-4
    // cut, corpus-trained decimal-exact BQ means, sign bits + Hamming
    // WITHIN the pruned pool, rank-window 50, exact rerank top-10
    "s20_funnel_search" ->
      s"""WITH $kmeansReplayCte,
         |pr AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid, row_number() OVER (ORDER BY
         |      list_dot_product(p.v, cc.cv) /
         |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |      cc.cid) AS rn
         |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
         |         (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= 4),
         |pool AS (
         |  SELECT a.vec_id, a.v FROM af a JOIN pr ON a.cid = pr.cid
         |  WHERE a.vec_id <> 0),
         |mu AS (
         |  SELECT i, CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,15)))
         |              AS DOUBLE) / count(*) AS m
         |  FROM vv, (SELECT unnest(range(1, 65)) AS i) ii
         |  GROUP BY i),
         |ml AS (SELECT list(m ORDER BY i) AS ms FROM mu),
         |bb AS (
         |  SELECT vec_id, v, array_to_string(
         |    [CASE WHEN v[CAST(i AS INT)] > ms[CAST(i AS INT)]
         |          THEN '1' ELSE '0' END
         |     FOR i IN range(1, 65)], '') AS bits
         |  FROM pool CROSS JOIN ml),
         |pb AS (
         |  SELECT v AS pv, array_to_string(
         |    [CASE WHEN v[CAST(i AS INT)] > ms[CAST(i AS INT)]
         |          THEN '1' ELSE '0' END
         |     FOR i IN range(1, 65)], '') AS pbits
         |  FROM vv CROSS JOIN ml WHERE vec_id = 0),
         |h AS (
         |  SELECT vec_id, v,
         |    len(list_filter(range(1, 65),
         |        i -> substring(bits, CAST(i AS INT), 1)
         |          <> substring(pbits, CAST(i AS INT), 1))) AS hamming
         |  FROM bb, pb),
         |sl AS (
         |  SELECT vec_id, v, hamming,
         |    row_number() OVER (ORDER BY hamming, vec_id) AS rk
         |  FROM h),
         |r AS (
         |  SELECT vec_id, hamming,
         |    round(list_dot_product(v, pv) /
         |          (sqrt(list_dot_product(v, v)) *
         |           sqrt(list_dot_product(pv, pv))), 4) AS cos
         |  FROM sl, pb WHERE rk <= 50)
         |SELECT vec_id, hamming, cos FROM r
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    // s3's k-means replay + the selectivity-scaled probe-list cut
    // (nProbe_eff = min(16, ceil(2·n/n_admissible)) from LIVE counts,
    // the s2 tauCut coupling pattern) + the label cut fused into the
    // pruned scan — filter-during-search replayed at any scale
    "s19_filtered_ann" ->
      s"""WITH $kmeansReplayCte,
         |pl AS (SELECT label AS plabel FROM embeddings WHERE vec_id = 0),
         |np AS (
         |  SELECT least(16, CAST(ceil(2.0 * (SELECT count(*) FROM embeddings) /
         |    greatest(1, (SELECT count(*) FROM embeddings, pl
         |                 WHERE label = plabel AND vec_id <> 0)))
         |    AS INT)) AS np),
         |pr AS (
         |  SELECT cid FROM (
         |    SELECT cc.cid, row_number() OVER (ORDER BY
         |      list_dot_product(p.v, cc.cv) /
         |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(cc.cv, cc.cv))) DESC,
         |      cc.cid) AS rn
         |    FROM (SELECT v FROM vv WHERE vec_id = 0) p,
         |         (SELECT cid, v AS cv FROM c3) cc) t
         |  WHERE rn <= (SELECT np FROM np)),
         |p AS (SELECT v AS pv FROM vv WHERE vec_id = 0)
         |SELECT a.vec_id, e.label,
         |  round(list_dot_product(a.v, pv) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(pv, pv))), 4) AS cos
         |FROM af a JOIN pr ON a.cid = pr.cid
         |JOIN embeddings e ON e.vec_id = a.vec_id, p, pl
         |WHERE a.vec_id <> 0 AND e.label = plabel
         |ORDER BY cos DESC, a.vec_id LIMIT 10""".stripMargin
  )
}
