package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines.
  *
  * Scale design (100 TB posture): every near-dup operator is
  * join-driven — candidate pairs come from an inverted index
  * (shingle / minhash band / simhash block / hyperplane bucket)
  * equi-join, NEVER a cross join. Signature computation (minhash,
  * simhash, LSH buckets) is pure array-expression projection over one
  * scan — zero shuffles until the candidate join itself, whose key
  * distribution is handled by AQE (+ salting if a band degenerates).
  * Pairs are canonicalized `a < b` so each is produced once.
  *
  * Determinism / oracle parity: all hash-derived values stay STRINGS
  * (md5 hex, '0'/'1' bit strings) — lexicographic min/equality is
  * identical in any engine, so no integer-conversion or sign pitfalls.
  * Thresholds are applied to ROUNDED scores so Spark and DuckDB make
  * identical keep/drop decisions. Thresholds are parameters; the
  * defaults here are tuned to the synthetic corpus (e.g. cosine 0.45
  * — production near-dup would use 0.95; the plumbing is identical).
  */
object Dedup {

  /** Spread a small scan across all cores before compute-heavy per-row
    * signature work. The test tables are single parquet files → one
    * input partition → one task would do all the md5/minhash math. On
    * a real cluster the input is many files/row-groups and this is a
    * no-op-cost round-robin; locally it is what makes signature
    * computation parallel.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** d1: exact dedup by content hash at chunk granularity (the planted
    * near-identical docs share identical leading chunks). keep-min-id
    * policy; hash-groupBy, no driver loop.
    */
  def d1DedupExact(t: Tables): DataFrame =
    Ingest.chunks(t)
      .groupBy(md5(col("chunk")).as("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_copies") >= 2)
      .orderBy("chunk_md5")

  /** d2: word-3-gram Jaccard ≥ 0.5 pairs via shingle inverted-index
    * join (candidate generation is the only shuffle; complexity is
    * bounded by shingle co-occurrence, not n²). Delegates to the
    * DataFrame-first core in graft.api.Graft.
    */
  def d2NgramJaccard(t: Tables, threshold: Double = 0.5): DataFrame =
    graft.api.Graft.jaccardPairs(t.documents, "doc_id", "text", 3, threshold)
      .orderBy("doc_a", "doc_b")

  /** Per-doc arrays: distinct 3-shingles + 16 minhashes from ONE md5
    * per shingle: h1/h2 = first/second 8 hex chars as ints, perm p
    * value = (h1 + p·h2) mod 4294967291 (largest prime < 2³²) — the
    * standard affine-permutation family. 16× fewer md5 calls than
    * hashing per-perm; all values < 2³² so p·h2 + h1 < 2³⁶ never
    * overflows int64 in either engine. Pure projection, no shuffle.
    */
  private[graft] def minhashDocs(docsIn: DataFrame): DataFrame =
    spread(docsIn)
      .withColumn("tk", Text.tokenize(col("text")))
      .select(col("doc_id"), Text.shinglesFast(3)(col("tk")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("mhs", Text.minhashSig(col("sh")))

  /** d3: MinHash(16 perms) + LSH banding (4 bands × 4 rows) candidate
    * join, then exact-Jaccard verification of candidates at ≥ 0.5.
    */
  def d3MinhashLsh(t: Tables, threshold: Double = 0.5): DataFrame =
    minhashPairsFrom(t.documents.select("doc_id", "text"), threshold)

  /** DataFrame form of d3 for the graft.api facade. `sorted = false`
    * skips the terminal presentation sort for internal consumers (CC)
    * that re-shuffle the pair frame anyway.
    */
  private[graft] def minhashPairsFrom(docsIn: DataFrame,
      threshold: Double, sorted: Boolean = true): DataFrame = {
    graft.Caches.fresh()
    // signatures are consumed 4× (both self-join sides + both verify
    // joins) — the materialized cache is the local analog of the
    // signature table a cluster pipeline would persist, and eager
    // materialization keeps concurrent consumers from racing to
    // recompute it
    val docs = Pipeline.labeled(docsIn.sparkSession, "minhash: signatures")(
      graft.Caches.materialized(minhashDocs(docsIn)))
    val bands = bandSigs(docs)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSh = docs.select(col("doc_id"), col("sh"))
    val out = cand
      .join(withSh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sha"), "doc_a")
      .join(withSh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "shb"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    if (sorted) out.orderBy("doc_a", "doc_b") else out
  }

  /** The 4-band × 4-row LSH banding of a (doc_id, mhs) signature
    * frame — shared by batch d3/d6 and st13's incremental registry so
    * the candidate construction is one expression, not two copies.
    */
  private[graft] def bandSigs(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band"),
        col("mhs"))
      .select(col("doc_id"), col("band"),
        concat_ws("-", slice(col("mhs"), col("band") * 4 + 1, lit(4))).as("sig"))

  /** Per-doc 64-bit tf-weighted SimHash (Charikar) as a '0'/'1'
    * string: per bit, sum ±tf over the doc's distinct tokens according
    * to bit b of md5(token); sign (≥ 0 → '1') is the signature bit.
    * tf weighting matters here: the synthetic corpus has a ~31-word
    * vocabulary, so unweighted (set-based) simhash collapses most
    * docs to one signature and the candidate join degenerates toward
    * n². md5 computed once per token; the 64 bit-sums are nested
    * array-expression folds — one projection, no shuffle.
    */
  private def simhashDocs(docsIn: DataFrame): DataFrame =
    spread(docsIn)
      .select(col("doc_id"), Text.tokenize(col("text")).as("all_toks"))
      .filter(size(col("all_toks")) > 0)
      .select(col("doc_id"), Text.simhashSig(col("all_toks")).as("sim"))

  /** d4: SimHash near-dup pairs, Hamming ≤ 3, with the 4×16-bit block
    * pigeonhole prefilter (Hamming ≤ 3 ⇒ at least one block equal) as
    * the candidate equi-join.
    */
  def d4Simhash(t: Tables, maxHamming: Int = 3): DataFrame =
    simhashPairsFrom(t.documents.select("doc_id", "text"), maxHamming)

  /** DataFrame form of d4 for the graft.api facade. */
  private[graft] def simhashPairsFrom(docsIn: DataFrame,
      maxHamming: Int, sorted: Boolean = true): DataFrame = {
    graft.Caches.fresh()
    val docs = graft.Caches.materialized(simhashDocs(docsIn))
    val blocks = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("blk"),
        col("sim"))
      .select(col("doc_id"), col("blk"),
        col("sim").substr(col("blk") * 16 + 1, lit(16)).as("bval"))
    // distinct over bare id pairs (not the 64-char sims), then rejoin
    // the small cached signature table — broadcastable at this size
    val cand = blocks.as("x").join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val out = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
      .withColumn("hamming",
        graft.functions.Vectors.hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    if (sorted) out.orderBy("doc_a", "doc_b") else out
  }

  /** The md5-seeded hyperplanes are CONSTANT — hp(h,i) = unsigned
    * value of md5("h:i")'s first byte (≡ first two hex digit values
    * d1·16+d2) scaled to [-1,1]. Computed once on the driver and
    * shipped as a compact literal matrix inside the compiled
    * signature expression: no per-row md5, no dim explode, no
    * shuffle. The oracle recomputes the same constants in SQL.
    */
  private[graft] val hpDim = 64

  /** Plane matrices are memoized per size so a given nPlanes always
    * yields the SAME instance (PlaneMatrix equality is identity —
    * plan/cache reuse depends on it). Sizes beyond the 4096 default
    * exist for the moderate-threshold scaling path: at cos ~0.5 the
    * LSH exponent ρ ≈ 0.575 means table count L must grow ~n^ρ while
    * band bits grow with log n — more planes, same constant family
    * (plane h ≥ 4096 continues the identical md5 formula, so oracles
    * replay any size).
    */
  private val hpMatrices =
    new java.util.concurrent.ConcurrentHashMap[Int,
      graft.expressions.PlaneMatrix]()
  private[graft] def hpMatrixFor(nPlanes: Int)
      : graft.expressions.PlaneMatrix =
    hpMatrices.computeIfAbsent(nPlanes, { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val flat = new Array[Double](nPlanes * hpDim)
      var h = 0
      while (h < nPlanes) {
        var i = 0
        while (i < hpDim) {
          md.reset()
          val d = md.digest(s"$h:$i".getBytes("UTF-8"))
          flat(h * hpDim + i) = (d(0) & 0xff) / 255.0 * 2 - 1
          i += 1
        }
        h += 1
      }
      new graft.expressions.PlaneMatrix(flat, hpDim)
    })
  private[graft] lazy val hpMatrix: graft.expressions.PlaneMatrix =
    hpMatrixFor(4096)

  /** LSH tuning for the synthetic corpus — chosen from a MEASURED
    * Pareto frontier, not hand-waved. The corpus is isotropic 64-dim
    * (pair-cosine σ = 1/√64 ≈ 0.125) and the d5 threshold 0.45 sits
    * only ~3.6σ from the bulk: per-bit collision is p₁ = 1−θ/π ≈ 0.65
    * for true pairs vs p₂ ≈ 0.5 random, an LSH exponent
    * ρ = ln p₁ / ln p₂ ≈ 0.575. Measured frontier at n = 2000
    * (sf0.1): candidate fraction 1.7% buys only recall 0.76;
    * 16-bit bands × 256 tables with Hamming-1 multi-probe buys
    * recall 0.94 at fraction ≈ 0.10 — the operating point chosen
    * here (0.68 → 0.10 of all pairs vs round-2, with the verify
    * step unchanged). In the production near-dup regime (threshold
    * 0.95 ⇒ p₁ ≈ 0.90, ρ ≈ 0.15) the SAME shape with mp=0 gives
    * recall ≈ 0.99 at fraction 5e-4 — the regime, not the code,
    * is what makes <1% possible.
    */
  private[graft] val lshBandBits  = 16
  private[graft] val lshBands     = 256
  private[graft] val lshPlanes: Int = lshBandBits * lshBands

  /** The corpus size the 256×16 frontier above was measured AT —
    * the reference point [[lshConfigFor]] scales from. */
  private[graft] val lshRefN = 2000L

  /** The MEASURED moderate-regime LSH exponent (SURVEY §5 d5n probe:
    * table count grown as n^0.575 held recall parity at theory-
    * bounded cost — predicted ~230 s at 30×, measured 245 s). */
  private[graft] val lshRhoMeasured = 0.575

  /** AUTO-SIZED LSH shape for a corpus of `n` vectors at `threshold`
    * — SURVEY §5's measured scaling laws as a library function
    * instead of a hand-picked constant. Returns
    * (nBands, bandBits, probeRadius):
    *
    *  - band BITS grow with log₂(n/n₀): per-bucket occupancy — and
    *    so chance collisions per vector — stays constant as the
    *    corpus grows (the d5p/s4x probes' knob);
    *  - MODERATE threshold (< 0.9, p₁ ≈ 0.65 at cos 0.45): table
    *    count must grow ~n^ρ with the measured ρ = 0.575, planes
    *    generated on demand from the same md5 family
    *    ([[hpMatrixFor]]); Hamming-1 multi-probe stays on. Operating
    *    points: 256×16 @2k, 962×20 @20k, 1809×21 @60k, 3616×23
    *    @200k — exactly the d5n probe table's, spec-locked;
    *  - PRODUCTION near-dup (threshold ≥ 0.9, p₁ ≥ 0.9, ρ ≈ 0.15):
    *    exact collisions already recall ~1.0 (d5p probe: output
    *    replicated ×100 at 5.9× wall), so tables stay at 256 and
    *    multi-probe off.
    *
    * `n` is a MEASURED count (the same measured-gate contract as
    * [[graft.Guards]]): callers count the corpus, never guess.
    */
  private[graft] def lshConfigFor(n: Long,
      threshold: Double): (Int, Int, Int) = {
    val scale = math.max(1.0, n.toDouble / lshRefN)
    val bits = lshBandBits + ceilLog2(math.ceil(scale).toInt)
    if (threshold >= 0.9) (lshBands, bits, 0)
    else (math.max(lshBands,
      (lshBands * math.pow(scale, lshRhoMeasured)).toInt), bits, 1)
  }

  /** Per-vector signed-random-projection signature ('0'/'1' string of
    * length nPlanes) — one compiled projection, no shuffle. Input:
    * (vec_id, embedding) with any float/double array type.
    */
  private[graft] def hyperplaneSig(vecs: DataFrame,
      nPlanes: Int): DataFrame = {
    val m = if (nPlanes <= 4096) hpMatrix else hpMatrixFor(nPlanes)
    spread(vecs)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("sig",
        graft.functions.Vectors.hyperplaneBits(col("v"), m, nPlanes))
  }

  /** Banded buckets of the signature: one row per (vec_id, band), the
    * bucket packed with its band index into ONE long join key (8-byte
    * shuffle rows instead of bandBits-char strings — identical
    * candidate sets to the string form the oracle mirrors, ~5×
    * lighter shuffle at millions of probe rows).
    */
  private[graft] def hyperplaneBuckets(vecs: DataFrame,
      nBands: Int = lshBands, bandBits: Int = lshBandBits): DataFrame = {
    require(bandBits + ceilLog2(nBands) <= 63,
      s"band shape $nBands x $bandBits overflows the packed long key")
    // the default 4096-plane matrix serves any shape that fits it; a
    // larger shape (the n^ρ more-tables path) generates more planes
    // from the same md5 family on demand
    val m = if (nBands * bandBits <= 4096) hpMatrix
            else hpMatrixFor(nBands * bandBits)
    spread(vecs)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        explode(graft.functions.Vectors.hyperplaneBandKeys(
          col("v"), m, nBands, bandBits)).as("bk"))
  }

  private def ceilLog2(n: Int): Int = 32 - Integer.numberOfLeadingZeros(n - 1)

  /** d5: embedding near-dup pairs — banded hyperplane-LSH candidates
    * with Hamming-1 multi-probe, exact-cosine verification at ≥ 0.45
    * (threshold parameterized; 0.95 in production — synthetic vectors
    * top out at ~0.51).
    */
  def d5EmbeddingNeardup(t: Tables, threshold: Double = 0.45): DataFrame =
    embeddingPairsFrom(t.embeddings.select("vec_id", "embedding"), threshold)

  /** Candidate pairs from the band index — exposed separately so
    * specs can MEASURE the candidate fraction the index actually
    * produces. `probeRadius = 1` (the synthetic-corpus default)
    * multi-probes each band's Hamming-1 neighbor buckets — needed
    * when near-dups sit at cos ~0.5 (p₁ ≈ 0.65). In the production
    * near-dup regime (threshold ≥ 0.9, p₁ ≥ 0.9) exact collisions
    * already recall ~1.0, and `probeRadius = 0` drops the candidate
    * fraction to L/2^k ≈ 0.4% — measured in DedupTextSpec's
    * production-regime test.
    */
  private[graft] def embeddingCandidates(vecsIn: DataFrame,
      probeRadius: Int = 1, nBands: Int = lshBands,
      bandBits: Int = lshBandBits): DataFrame = {
    graft.Caches.fresh()
    val buckets =
      graft.Caches.materialized(hyperplaneBuckets(vecsIn, nBands, bandBits))
    val probeSide =
      if (probeRadius == 0) buckets.select(col("vec_id"), col("bk").as("pbk"))
      else buckets.select(col("vec_id"),
        explode(graft.functions.Vectors.bitFlipProbes(col("bk"), bandBits))
          .as("pbk"))
    probeSide.as("x").join(buckets.as("y"),
        col("x.pbk") === col("y.bk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** DataFrame-form of d5 (used by the graft.api facade): near-dup
    * pairs over any (vec_id, embedding) frame. Candidates come from
    * the multi-probe band equi-join; only candidates pay the exact
    * O(d) cosine. Pairs are canonical a < b; the distinct runs on
    * bare ids before payload rejoin.
    */
  private[graft] def embeddingPairsFrom(vecsIn: DataFrame,
      threshold: Double, probeRadius: Int = 1, nBands: Int = lshBands,
      bandBits: Int = lshBandBits, sorted: Boolean = true): DataFrame = {
    val cand = embeddingCandidates(vecsIn, probeRadius, nBands, bandBits)
    val vecs = vecsIn
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val out = cand
      .join(vecs.withColumnRenamed("vec_id", "vec_a")
        .withColumnRenamed("v", "va"), "vec_a")
      .join(vecs.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("v", "vb"), "vec_b")
      .withColumn("cos",
        round(graft.functions.Vectors.cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
    if (sorted) out.orderBy("vec_a", "vec_b") else out
  }

  private[graft] val shingleCte =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS tk
      |  FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(tk) >= 3 THEN
      |      [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, greatest(len(tk) - 1, 1))]
      |    ELSE [] END) AS sh
      |  FROM toks),
      |shx AS (SELECT doc_id, unnest(sh) AS sh FROM shl)""".stripMargin

  /** d6: near-dup GROUPS and the keep/drop list — the step an actual
    * dedup pipeline ends with. Connected components over d3's
    * verified pair evidence ([[ccGroups]]): the pairs are cached and
    * counted once, and when [[graft.Guards.fitsBudget]] admits the
    * count they are collected and union-found on the driver, with no
    * further job. Past the budget, iterative min-label propagation
    * runs on Spark (every node takes the min label among itself and
    * its neighbors, plus a pointer-jump link, repeated to fixpoint —
    * O(log diameter) rounds, each one shuffle-bounded join and a
    * scalar convergence check on the driver, like k-means').
    * Output: one row per doc in a dup group, its component-min
    * keep_doc and the group size.
    */
  def d6DedupGroups(t: Tables, threshold: Double = 0.5): DataFrame =
    ccLabelsStaged(t, threshold)

  /** DataFrame form of d6 for the graft.api facade and specs. */
  private[graft] def dedupGroupsFrom(docsIn: DataFrame,
      threshold: Double, sorted: Boolean = true): DataFrame =
    ccGroups(minhashPairsFrom(docsIn, threshold, sorted = false)
      .select("doc_a", "doc_b"), sorted)

  /** Corpus-keyed CC-label registry: the dedup pipeline's most
    * expensive artifact (minhash → bands → verify → CC) is computed
    * ONCE per (corpus, threshold) and landed as parquet, like s3/s5's
    * trained models (Ann.codebooks) — every consumer (d6's groups
    * query, d10's leakage-safe split) then reads a component-sized
    * scan instead of re-running the pipeline. Same lake-snapshot
    * contract as every staged cache: the corpus under `t.dir` is
    * immutable for the JVM's lifetime.
    */
  private[graft] def ccLabelsStaged(t: Tables,
      threshold: Double): DataFrame = {
    val dir = graft.Staging.dir(s"${t.dir}:cc:$threshold", "cc") { d =>
      val groups = dedupGroupsFrom(t.documents.select("doc_id", "text"),
        threshold)
      Pipeline.labeled(t.spark, "cc: land labels")(
        groups.write.mode("overwrite").parquet(d))
    }
    t.spark.read.parquet(dir).orderBy("doc_id")
  }

  /** d10: LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT — assign every document a
    * split by hashing its DEDUP GROUP (d6's connected component), not
    * its own id: near-duplicates land in the SAME split by
    * construction, so the val/test sets can't be contaminated by
    * paraphrases of training docs (the failure mode a naive
    * per-doc-hash split has — shown in the spec). Singletons (no
    * near-dup) group as themselves. Split = deterministic
    * md5-uniform on the group representative: train < 0.8 ≤ val
    * < 0.9 ≤ test (u = k/2³² can never equal the cut points).
    *
    * Scale: the CC labels come from the corpus-keyed registry
    * ([[ccLabelsStaged]]) so repeated splits/queries share ONE CC
    * run. That run is a driver union-find after one collect when the
    * verified pair count fits [[graft.Guards.fitsBudget]], and the
    * pointer-jump loop on Spark, one job per round, past it. The
    * back-join onto the corpus carries NO forced hint —
    * dup-group membership is 30-50% of docs on web corpora
    * (corpus-scale, not component-scale), so AQE broadcasts it only
    * when it actually fits and sort-merge-joins otherwise. The split
    * itself is a pure hash projection.
    */
  def d10GroupSplit(t: Tables, threshold: Double = 0.5): DataFrame =
    Pipeline.labeled(t.spark, "d10: group split")(
      groupSplitFrom(t.documents.select("doc_id", "text"), threshold,
        Some(ccLabelsStaged(t, threshold))))

  /** DataFrame form of d10 for the graft.api facade and specs;
    * `groupsIn` lets Tables-path callers supply the registry's
    * pre-computed CC labels.
    */
  private[graft] def groupSplitFrom(docs: DataFrame, threshold: Double,
      groupsIn: Option[DataFrame] = None,
      sorted: Boolean = true): DataFrame = {
    val groups = groupsIn
      .getOrElse(dedupGroupsFrom(docs, threshold, sorted = false))
      .select(col("doc_id"), col("keep_doc"))
    val u = conv(substring(md5(concat(lit("split:"), col("grp"))), 1, 8),
      16, 10).cast("long") / lit(4294967296.0)
    val out = docs.select("doc_id")
      .join(groups, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("keep_doc"), col("doc_id")))
      .select(col("doc_id"), col("grp"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** d13: KEEP-BEST DEDUP — collapse each near-dup group (d6's
    * connected component) to its highest-QUALITY member instead of
    * min-id: winner = argmax(t2 q_score, tie-break min doc_id) within
    * the group; singletons keep themselves. This is how production
    * dedup actually decides survivors (the min-id convention d1/d6
    * use is an arbitrary canonical pick; real pipelines keep the
    * best-scoring copy of boilerplate families — e.g. the longest /
    * least-truncated mirror of a page).
    *
    * Scale: the argmax window runs ONLY on the match-sized group
    * registry join ([[ccLabelsStaged]] — rows = grouped docs, not the
    * corpus), never a corpus-wide window; singletons come from an
    * anti-join against the registry (AQE broadcasts the group side
    * while it is small) and skip the window entirely; quality is a
    * pure projection. One CC run is shared with d6/d10 through the
    * corpus-keyed registry.
    */
  def d13DedupKeepBest(t: Tables, threshold: Double = 0.5): DataFrame = {
    graft.Caches.fresh()
    keepBestFrom(t.documents.select("doc_id", "text"), threshold,
      Some(ccLabelsStaged(t, threshold)))
  }

  /** DataFrame form of d13 (facade entry); `groupsIn` lets the
    * Tables path supply the corpus-keyed CC registry.
    */
  private[graft] def keepBestFrom(docs: DataFrame, threshold: Double,
      groupsIn: Option[DataFrame] = None,
      sorted: Boolean = true): DataFrame = {
    val g = groupsIn
      .getOrElse(dedupGroupsFrom(docs, threshold, sorted = false))
      .select("doc_id", "keep_doc", "group_size")
    // quality feeds BOTH branches (winners + singles): materialize it
    // once — and AFTER the group evidence, whose pipeline opens its
    // own cache scope when it runs fresh — instead of re-tokenizing
    // the corpus per branch
    val q = graft.Caches.materialized(
      graft.operators.TextAnalysis.qualityScoreFrom(docs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("q_score").desc, col("doc_id"))
    val winners = g.join(q, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_doc").as("grp"), col("group_size"),
        coalesce(col("q_score"), lit(0.0)).as("q_score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
    val singles = docs.select("doc_id")
      .join(g.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(q, Seq("doc_id"), "left")
      .select(col("doc_id"), col("doc_id").as("grp"),
        lit(1L).as("group_size"),
        coalesce(col("q_score"), lit(0.0)).as("q_score"))
    val out = winners.unionByName(singles)
    if (sorted) out.orderBy("doc_id") else out
  }

  /** Shuffle-round count of the LAST [[ccGroups]] run — probe/spec
    * instrumentation for the O(log diameter) convergence claim (the
    * deep-chain measurement SURVEY §5 records). A run on the driver
    * has no rounds and leaves it at 0.
    */
  private[graft] val lastCcRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Free a localCheckpoint'd frame's storage blocks. Dataset
    * .unpersist only touches the SQL cache — a checkpoint lives in
    * RDD block storage, which neither Caches.fresh() nor
    * catalog.clearCache() reclaims, so an unreleased round would pin
    * executor storage for the session (localCheckpoint data is
    * non-fault-tolerant by contract, so releasing a superseded
    * round loses nothing recomputation could need).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Connected components over an undirected pair frame (doc_a,
    * doc_b) — the CC engine behind d6, exposed at the pairs level so
    * any near-dup family's evidence (d2/d3/d4/d5) can be grouped and
    * so the iteration logic is testable on adversarial graph shapes
    * (long chains) without going through minhash. Output: one row
    * per doc that has a pair, with its component-min keep_doc and
    * the component's size.
    *
    * The pair plan runs ONCE, into a cache whose count picks the
    * branch. When [[graft.Guards.fitsBudget]] admits that count (and
    * the ids are longs), one collect feeds a union-find on the driver
    * ([[ccOnDriver]]): no per-round job, no checkpoint, no scratch
    * dir, and a local frame back. Otherwise [[ccGroupsOnSpark]]'s
    * pointer-jump loop runs over the cached pairs.
    */
  private[graft] def ccGroups(pairs: DataFrame,
      sorted: Boolean = true): DataFrame = {
    lastCcRounds.set(0)
    val spark = pairs.sparkSession
    val cached = graft.Caches.cached(pairs)
    val n = Pipeline.labeled(spark, "cc: edges")(cached.count())
    val longIds = cached.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    // either branch's result is decoupled from the pair cache (a local
    // frame, or labels re-read from scratch parquet), so it drops now
    try {
      if (longIds && graft.Guards.fitsBudget(n))
        ccOnDriver(spark, Pipeline.labeled(spark, "cc: edges")(cached.collect()))
      else ccGroupsOnSpark(cached, sorted)
    } finally graft.Caches.drop(cached)
  }

  /** The schema both [[ccGroups]] branches return. */
  private val ccSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType, nullable = true),
      StructField("keep_doc", LongType, nullable = true),
      StructField("group_size", LongType, nullable = false)))
  }

  /** Union-find over collected pairs. Ids map to dense ints by binary
    * search over their sorted distinct values; a union points the
    * larger root at the smaller, so a parent's index never exceeds
    * its child's and every root is its component's min id, and finds
    * halve their paths. Rows come out in doc_id order, so the frame
    * is sorted whether or not the caller asked.
    */
  private def ccOnDriver(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[org.apache.spark.sql.Row]): DataFrame = {
    val ends = new Array[Long](2 * pairs.length)
    var i = 0
    while (i < pairs.length) {
      ends(2 * i) = pairs(i).getLong(0)
      ends(2 * i + 1) = pairs(i).getLong(1)
      i += 1
    }
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var m = 0
    i = 0
    while (i < ids.length) {
      if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def dense(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, m, id)
    i = 0
    while (i < ends.length) {
      val (ra, rb) = (find(dense(ends(i))), find(dense(ends(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    // parent(x) < x for every non-root, so one ascending pass points
    // each node straight at its root
    val size = new Array[Long](m)
    i = 0
    while (i < m) { parent(i) = parent(parent(i)); size(parent(i)) += 1; i += 1 }
    Pipeline.localFrame(spark, (0 until m).map(x =>
      org.apache.spark.sql.Row(ids(x), ids(parent(x)), size(parent(x)))),
      ccSchema)
  }

  /** [[ccGroups]] through its Spark branch whatever the budget says:
    * the path of a pair set too large for the driver, and the
    * reference the driver branch is tested against. Every node takes
    * the min label among itself and its neighbours, then chases one
    * pointer-jump link, round by round to the fixpoint; the converged
    * labels land in a `Staging.scratch("cc_labels")` dir that lives
    * until the JVM exits.
    */
  private[graft] def ccGroupsOnSpark(pairs: DataFrame,
      sorted: Boolean = true): DataFrame = {
    lastCcRounds.set(0)
    val spark = pairs.sparkSession
    val edges = Pipeline.labeled(spark, "cc: edges")(graft.Caches.materialized(
      pairs.union(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b")))))
    // each round LOCAL-CHECKPOINTS its labels: an iterative frame's
    // lineage otherwise nests one whole plan per round, and on a
    // deep-chain graph (log₂(diameter) rounds) the accumulated tree
    // is exponential — the 100× chain probe OOM'd the DRIVER merely
    // STRINGIFYING the plan before the cached data was ever large.
    // Truncation caps every round at a flat scan + two joins, the
    // standard posture for distributed iterative algorithms
    // (GraphX/GraphFrames checkpoint their iteration for the same
    // reason). Blocks of superseded rounds are freed eagerly.
    var labels = Pipeline.labeled(spark, "cc: edges")(
      edges.select(col("doc_a").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
        .localCheckpoint())
    // coalesce: a dup-free corpus has no edges, and sum over an empty
    // frame is null
    def labelSum(df: DataFrame): Long = Pipeline.labeled(spark, "cc: label sum")(
      df.agg(coalesce(sum(col("label")), lit(0L))).collect()(0).getLong(0))
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      lastCcRounds.incrementAndGet()
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("label")).as("nbr_min"))
      val hop = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
      // pointer-jump shortcut (L(v) := min(L(v), L_prev(L(v)))): every
      // label value is itself a node id, so chasing one link halves
      // the remaining distance to the component root — convergence in
      // O(log diameter) joins instead of O(diameter), the difference
      // between 4 and 40 shuffle rounds on a long dup chain
      val next = Pipeline.labeled(spark, "cc: round")(hop.join(
          labels.select(col("doc_id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
        .localCheckpoint()) // eager: materializes the round, cuts lineage
      // labels are monotonically non-increasing, so an unchanged sum
      // IS the fixpoint
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      // superseded rounds are freed NOW: storage stays bounded by one
      // iteration's working set instead of growing with log(diameter)
      releaseCheckpoint(labels)
      labels = next
    }
    // the CONVERGED round's checkpoint blocks must not outlive the
    // operator (checkpoint RDDs sit outside the SQL cache, so neither
    // Caches.fresh() nor catalog.clearCache() would ever reclaim
    // them). A cached copy is NOT enough — a consumer re-planning
    // after Caches.fresh() would recompute into the released blocks
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — so the label table
    // (component-count-sized, the smallest frame in the loop) lands
    // in scratch parquet and the result re-plans from THAT scan,
    // fully decoupled from every checkpoint
    val settledDir = graft.Staging.scratch("cc_labels")
    val settled = Pipeline.labeled(spark, "cc: land labels") {
      labels.write.mode("overwrite").parquet(settledDir)
      releaseCheckpoint(labels)
      spark.read.parquet(settledDir)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("keep_doc")
    val out = settled
      .select(col("doc_id"), col("label").as("keep_doc"))
      .withColumn("group_size", count(lit(1)).over(w).cast("long"))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** d7: BENCHMARK DECONTAMINATION — the dedup family's third shape
    * (exact d1, near-dup d2–d6, and this: train-vs-eval overlap).
    * Before training, every corpus is screened for documents that
    * contain an evaluation benchmark's n-grams; contaminated docs are
    * dropped or flagged. Here the "benchmark" is the deterministic
    * doc_id % 97 slice of the corpus (both engines construct it
    * identically); contamination = sharing ≥1 distinct word-5-gram.
    * Output: (train_id, bench_id, n_shared) per contaminated pair.
    *
    * Scale design: this is the one similarity op where one side is
    * TINY by construction (eval suites are KBs against 100 TB), so
    * the candidate join is a BROADCAST of the benchmark's shingle
    * set against a single corpus scan — no corpus shuffle at all
    * until the (train, bench) pair aggregate, whose cardinality is
    * the contamination count (≈0 on clean corpora). The 5-gram cut
    * matches standard decontamination practice (8-13-gram in prod;
    * 5 here because synthetic docs are ~50 tokens).
    */
  def d7Decontaminate(t: Tables, k: Int = 5): DataFrame =
    decontaminateFrom(t.documents.select("doc_id", "text"), k)

  /** DataFrame form of d7 for the graft.api facade and the scale
    * probe: any (doc_id, text) frame in; the doc_id % benchMod slice
    * is the benchmark.
    */
  private[graft] def decontaminateFrom(docsIn: DataFrame, k: Int = 5,
      benchMod: Long = 97, sorted: Boolean = true): DataFrame =
    decontaminateCore(docsIn, k, benchMod, sorted)((train, _) => train)

  /** ONE home for the detection pipeline d7 and d12 share (shingle
    * derivation, bench slice, sized-broadcast confirm join, pair
    * agg): d12's bloom is exactly a PREFILTER on the train shingle
    * stream, so the two operators differ in one hook — and a change
    * to the shared shape cannot leave d12 silently diverging from
    * the d7 contract its oracle asserts bit-equality with.
    *
    * The hook sees (train shingles, bench shingles) and returns the
    * train stream that enters the confirm join.
    */
  private def decontaminateCore(docsIn: DataFrame, k: Int,
      benchMod: Long, sorted: Boolean)(
      prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    graft.Caches.fresh()
    val spark = docsIn.sparkSession
    // one tokenize+shingle pass serves both sides (locally the bench
    // slice comes from the same table; in production it is a separate
    // tiny input and the corpus side is a single uncached scan)
    val sh = Pipeline.labeled(spark, "decontaminate: shingles")(
      graft.Caches.materialized(
        spread(docsIn)
          .withColumn("tk", Text.tokenize(col("text")))
          .select(col("doc_id"),
            explode(Text.shinglesFast(k)(col("tk"))).as("sh"))))
    // size-guarded hint: the bench side is tiny by the eval-suite
    // contract, but the hint is applied only under a MEASURED count
    // (the frame is a filter on the materialized cache, so the count
    // is a cache read) — past the budget the join shuffles and AQE
    // owns the strategy
    val bench = Pipeline.labeled(spark, "decontaminate: shingles")(
      graft.Caches.materialized(
        sh.filter(col("doc_id") % benchMod === 0)
          .select(col("doc_id").as("bench_id"), col("sh"))))
    val out = prefilter(sh.filter(col("doc_id") % benchMod =!= 0), bench)
      .join(Pipeline.labeled(spark, "decontaminate: confirm join")(
        graft.Guards.sizedBroadcast(bench)), "sh")
      .groupBy(col("doc_id").as("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
    if (sorted) out.orderBy("train_id", "bench_id") else out
  }

  /** d12: BLOOM-PREFILTERED DECONTAMINATION — d7's exact contract
    * through the middle-scale regime d7's broadcast can't reach: when
    * the benchmark shingle SET outgrows the 64 MB broadcast budget
    * (Guards drops the hint and d7's confirm join shuffles the FULL
    * train shingle stream), a Bloom filter of the bench shingles still
    * fits anywhere — ~10 bits per shingle vs ~50+ bytes of string, a
    * 40× smaller resident side — and prefiltering train shingles
    * through it cuts the rows entering that shuffle to
    * contamination + fpp·corpus, instead of the whole corpus.
    *
    * Exactness: the bloom passes false positives by design; the exact
    * join against the bench set afterwards kills them, so the output
    * is bit-equal to d7 (the oracle is d7's verbatim). The probe is a
    * native expression ([[graft.expressions.BloomMightContain]]) —
    * codegen-resident, two hashes + bit tests per row.
    *
    * This is the static-build twin of Spark's AQE runtime bloom join
    * filter: here the operator owns the build side (the eval suite is
    * a known input), so the filter is built once per call with a
    * MEASURED item count rather than estimated at runtime.
    */
  def d12BloomDecontaminate(t: Tables, k: Int = 5): DataFrame =
    Pipeline.labeled(t.spark, "d12: bloom decontaminate")(
      bloomDecontaminateFrom(t.documents.select("doc_id", "text"), k))

  /** DataFrame form of d12 (facade + specs). `fpp` trades filter bits
    * against confirm-join input: 3% keeps the bloom ~7 bits/shingle
    * while the exact join sees ≤3% of clean-corpus shingles.
    */
  private[graft] def bloomDecontaminateFrom(docsIn: DataFrame, k: Int = 5,
      benchMod: Long = 97, fpp: Double = 0.03,
      sorted: Boolean = true): DataFrame =
    decontaminateCore(docsIn, k, benchMod, sorted) { (train, bench) =>
      // build the filter with a MEASURED count (a cache read — bench
      // is materialized by the core); expectedNumItems is the
      // distinct bound, so the realized fpp is ≤ the requested one
      val bf = Pipeline.labeled(bench.sparkSession, "bloom: build")(
        bench.stat.bloomFilter("sh", math.max(bench.count(), 1L), fpp))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val might = org.apache.spark.sql.GraftExpressionBridge.column(
        graft.expressions.BloomMightContain(
          org.apache.spark.sql.GraftExpressionBridge.expression(col("sh")),
          bos.toByteArray))
      // prefilter BEFORE the confirm join: only bloom-passing
      // shingles reach the exchange. The join keeps d7's
      // sized-broadcast gate — locally it broadcasts; past the
      // budget it shuffles, and the bloom is what keeps that shuffle
      // contamination-sized.
      train.filter(might)
    }

  /** d11: DECONTAMINATION SCRUB — d7 DETECTS train docs overlapping
    * the benchmark slice; d11 REMOVES the overlap: every train-doc
    * token covered by any word-k-gram that also appears in the bench
    * slice is masked out, and the doc is reassembled from the
    * survivors (counts + cleaned-text md5). This is the "remove the
    * contaminated spans, keep the doc" policy real pipelines apply
    * when whole-doc dropping would cost too much data.
    *
    * Scale: the bench shingle SET is tiny by construction ⇒
    * BROADCAST against one positioned-shingle scan of the train side;
    * covered positions are contamination-sized on CLEAN corpora but
    * corpus-scale on a heavily contaminated one, so that back-join
    * onto the token stream carries NO forced hint — AQE broadcasts
    * it while it fits and shuffle-joins when contamination is heavy;
    * the only always-corpus-sized shuffle is the per-doc reassembly
    * groupBy.
    */
  def d11OverlapScrub(t: Tables, k: Int = 5,
      benchMod: Long = 97): DataFrame =
    overlapScrubFrom(t.documents.select("doc_id", "text"), k, benchMod)

  /** DataFrame form of d11 for the graft.api facade and specs. */
  private[graft] def overlapScrubFrom(docsIn: DataFrame, k: Int = 5,
      benchMod: Long = 97, sorted: Boolean = true): DataFrame = {
    graft.Caches.fresh()
    val toks = graft.Caches.materialized(
      docsIn.select(col("doc_id"), Text.tokenize(col("text")).as("tk"))
        .filter(size(col("tk")) > 0))
    // materialized so the broadcast guard's count is a cache read
    val bench = graft.Caches.materialized(
      toks.filter(col("doc_id") % benchMod === 0)
        .filter(size(col("tk")) >= k)
        .select(explode(Text.shinglesFast(k)(col("tk"))).as("sh")).distinct())
    val out = scrubTokens(toks.filter(col("doc_id") % benchMod =!= 0),
      bench, k)
    if (sorted) out.orderBy("doc_id") else out
  }

  /** Scrub core shared by batch d11 and streaming st12's per-micro-
    * batch form: positioned k-gram starts of `trainToks` (doc_id, tk)
    * that hit the `bench` shingle frame become covered positions; docs
    * are reassembled from the survivors. The bench join is
    * SIZE-GUARDED (broadcast only under a measured count — pass a
    * materialized frame); the covered-positions back-join onto the
    * token stream carries NO hint — contamination-sized on clean
    * corpora, corpus-scale on dirty ones, so AQE must own it.
    */
  private[graft] def scrubTokens(trainToks: DataFrame, bench: DataFrame,
      k: Int): DataFrame = {
    val covered = positionedShingles(trainToks, k)
      .join(graft.Guards.sizedBroadcast(bench), "sh")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("m", lit(1))
    reassembleMasked(trainToks, covered)
  }

  /** Positioned word-k-gram starts of a (doc_id, tk) frame:
    * (doc_id, i, sh) with i the 0-based start token — the span
    * stream both scrub variants (d11/st12's external set, d14's
    * self-derived set) read.
    */
  private[graft] def positionedShingles(toks: DataFrame,
      k: Int): DataFrame =
    toks.filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("tk")) - k),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(k)))))
        .as(Seq("i", "sh")))

  /** Reassembly shared by every span scrub: left-join a (doc_id,
    * pos, m) covered set back onto the token stream, then ONE
    * groupBy(doc_id) emitting counts + the cleaned-text md5.
    */
  private[graft] def reassembleMasked(trainToks: DataFrame,
      covered: DataFrame): DataFrame =
    trainToks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("n_masked"),
        md5(array_join(transform(sort_array(collect_list(
          when(col("m").isNull, struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ")).as("clean_md5"))

  /** d14: CORPUS-INTERNAL DUPLICATED-SPAN SCRUB — the ExactSubstr
    * policy of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") at word-k-gram granularity: every
    * token covered by a k-gram appearing in MORE THAN ONE document
    * is masked everywhere EXCEPT in the span's first owner (lowest
    * doc_id) — exactly one copy of duplicated material survives and
    * the documents around it are kept. d11 scrubs against an
    * EXTERNAL benchmark set; d14 derives the span set from the
    * corpus itself, the form pretraining dedup actually runs
    * (within-doc repetition is t8's axis; this is the cross-doc
    * one). Output per doc: token counts, masked count, cleaned-text
    * md5 — d11's shape.
    *
    * Scale: the positioned-shingle stream is the same n·L-row scan
    * d11 pays; the duplicated-span registry is ONE groupBy(sh) with
    * min/count partial aggregates, duplication-sized output; its
    * back-join onto span positions carries NO broadcast hint — on a
    * clean corpus the registry is tiny and AQE broadcasts it, on a
    * duplicate-heavy one it shuffle-joins (d11's covered-join
    * contract). Reassembly is the shared one-shuffle groupBy(doc).
    * No all-pairs stage, no driver-side state.
    */
  def d14SelfrepScrub(t: Tables, k: Int = 5): DataFrame =
    selfrepScrubFrom(t.documents.select("doc_id", "text"), k)

  /** DataFrame form of d14 for the graft.api facade and specs. */
  private[graft] def selfrepScrubFrom(docsIn: DataFrame, k: Int = 5,
      sorted: Boolean = true): DataFrame = {
    graft.Caches.fresh()
    val toks = graft.Caches.materialized(
      docsIn.select(col("doc_id"), Text.tokenize(col("text")).as("tk"))
        .filter(size(col("tk")) > 0))
    // cached: the span stream feeds the registry groupBy AND the
    // coverage join below
    val spans = graft.Caches.materialized(positionedShingles(toks, k))
    val dup = spans.select("doc_id", "sh").distinct()
      .groupBy("sh")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select("sh", "keeper")
    val covered = spans.join(dup, "sh")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
      .withColumn("m", lit(1))
    val out = reassembleMasked(toks, covered)
    if (sorted) out.orderBy("doc_id") else out
  }

  /** d8: LINE-LEVEL EXACT DEDUP (the C4/RefinedWeb rule): every
    * distinct line in the CORPUS is kept exactly once — at its first
    * occurrence in (doc_id, line_no) order — and every later
    * occurrence is dropped; documents are then reassembled from their
    * surviving lines. "Lines" are synthesized as consecutive
    * `lineTokens`-token runs (the synthetic corpus has no newlines;
    * both engines construct them identically, so the global
    * first-occurrence logic is what the gate tests). Output per doc:
    * line counts, kept fraction, md5 of the reassembled text.
    *
    * Scale design: the global line→first-owner map is a MAP-SIDE-
    * COMBINABLE min-struct aggregate (one shuffle of partial minima,
    * one buffer per distinct line per map task), joined back to the
    * occurrences by an equi-join — never a row_number window: a
    * window has no partial aggregation and no AQE help, so a
    * pathological hot line (empty/boilerplate — the d8skew probe
    * plants one at 36% of the corpus) would funnel through ONE task;
    * the aggregate collapses the hot key on the map side, and the
    * verdict join pre-splits its hot keys itself (broadcast-tagged
    * salt — see [[lineDedupFrom]]; the probe measured AQE's
    * skew-split declining this join because its exchange is reused
    * by the aggregate). Then one shuffle back by doc for reassembly.
    * At 100 TB the aggregate/join run on md5(line), 16 bytes/row,
    * not the text.
    */
  def d8LineDedup(t: Tables, lineTokens: Int = 8): DataFrame =
    lineDedupFrom(t.documents.select("doc_id", "text"), lineTokens)

  /** Explode a (doc_id, text) frame into its `lineTokens`-token lines:
    * (doc_id, line_no, line). Shared by batch d8 and streaming st8 —
    * the two are gated against the SAME oracle, so the line synthesis
    * must be one expression, not two copies.
    */
  private[graft] def lineExplode(docs: DataFrame,
      lineTokens: Int): DataFrame =
    docs
      .withColumn("tk", Text.tokenize(col("text")))
      .filter(size(col("tk")) > 0)
      .withColumn("lines", transform(
        sequence(lit(0),
          floor((size(col("tk")) - 1) / lineTokens).cast("int")),
        i => concat_ws(" ", slice(col("tk"), i * lineTokens + 1,
          lit(lineTokens)))))
      .select(col("doc_id"),
        posexplode(col("lines")).as(Seq("line_no", "line")))

  /** Per-doc rollup of (doc_id, line_no, line, kept) rows into the d8
    * output shape (counts, kept fraction, reassembled-text md5) —
    * shared by batch d8 and st8's post-sink aggregation.
    */
  private[graft] def lineRollup(kept: DataFrame,
      sorted: Boolean = true): DataFrame = {
    val out = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("kept")).as("n_kept"),
        md5(array_join(transform(
          filter(
            sort_array(collect_list(
              struct(col("line_no"), col("kept"), col("line")))),
            s => s.getField("kept") === 1),
          s => s.getField("line")), "\n")).as("kept_md5"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (floor(col("n_kept") / col("n_lines") * 10000 + 0.5) / 10000.0)
          .as("kept_frac"),
        col("kept_md5"))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** DataFrame form of d8 for the graft.api facade and the scale
    * probe: any (doc_id, text) frame in. `sorted = false` skips the
    * terminal global sort — the oracle gate's need, not a consumer's
    * (a library caller re-shuffles downstream anyway and should not
    * pay a full range-partition sort for presentation order).
    */
  private[graft] def lineDedupFrom(docsIn: DataFrame,
      lineTokens: Int, sorted: Boolean = true,
      hotOcc: Int = 1 << 12, salts: Int = 16): DataFrame = {
    val lines = lineExplode(spread(docsIn), lineTokens)
    // first occurrence in (doc_id, line_no) order — min over the
    // struct IS that order, and the aggregate partial-combines where
    // a window could not (see the scale-design note above)
    val first = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("first"),
        count(lit(1)).as("n_occ"))
    // the verdict join pre-splits its HOT keys (the d8skew probe
    // measured AQE's skew-split NEVER engaging on this join — the
    // exchange feeding it is reused by the aggregate, and
    // OptimizeSkewedJoin declines reused exchanges even under
    // forceOptimizeSkewedJoin — so the split is structural instead):
    // occurrence counts already fall out of the first-occurrence
    // aggregate; lines past `hotOcc` occurrences get a `salts`-way
    // salt on the probe side and `salts` replicated verdict rows on
    // the build side, so a boilerplate line at 36% of the corpus
    // spreads over `salts` tasks instead of one. The hot KEY set is
    // bounded by corpus/hotOcc (broadcast-sized by construction);
    // cold keys pay zero replication. Output is bit-equal for any
    // (hotOcc, salts) — pure execution split.
    val hotKeys = broadcast(first.filter(col("n_occ") >= hotOcc)
      .select(col("line"), lit(true).as("is_hot")))
    val probe = lines.join(hotKeys, Seq("line"), "left")
      .withColumn("salt",
        when(col("is_hot"),
          pmod(hash(col("doc_id"), col("line_no")), lit(salts)))
          .otherwise(lit(0)))
      .drop("is_hot")
    val build = first
      .withColumn("salt", explode(
        when(col("n_occ") >= hotOcc, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .select("line", "salt", "first")
    lineRollup(
      probe.join(build, Seq("line", "salt"))
        .withColumn("kept",
          (struct(col("doc_id"), col("line_no")) === col("first"))
            .cast("int"))
        .drop("first", "salt"),
      sorted)
  }

  /** d9: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space with the IVF codebook (k-means, trained once per
    * corpus — the SAME model s3 serves ANN from), then compare
    * vectors ONLY within their cluster and report pairs with cosine ≥
    * threshold; the keep-min policy (drop the greater id of each
    * pair) falls out of the canonical a<b orientation. Unlike d5's
    * LSH (which targets near-duplicates), clustering-scoped dedup is
    * the published recipe for pruning SEMANTIC redundancy at lower
    * thresholds, where LSH bands lose their selectivity.
    *
    * Scale design: work is Σ|cluster|² — the SemDeDup design point:
    * nLists grows with corpus size (√n-ish) to bound cluster size, so
    * per-cluster c² stays constant while the join stays ONE equi-join
    * keyed by cid. The 16-key skew at test scale is AQE's skew-split
    * job; at production nLists (tens of thousands) the key space is
    * wide. Assignment itself is a compiled projection (no shuffle
    * before the join).
    */
  def d9Semdedup(t: Tables, nLists: Int = 16,
      threshold: Double = 0.45): DataFrame =
    semdedupPairsFrom(Ann.assignedVecs(t, nLists)._1, threshold)

  /** The within-cluster pair join over an assigned (vec_id, v, cid)
    * frame — shared by d9 (corpus-registry codebook) and the facade
    * (frame-trained codebook).
    */
  private[graft] def semdedupPairsFrom(assigned: DataFrame,
      threshold: Double, sorted: Boolean = true): DataFrame = {
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
      col("v").as("va"))
    val b = assigned.select(col("cid"), col("vec_id").as("vec_b"),
      col("v").as("vb"))
    val out = a.join(b, "cid").filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        round(graft.functions.Vectors.cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("cid", "vec_a", "vec_b", "cos")
    if (sorted) out.orderBy("cid", "vec_a", "vec_b") else out
  }

  /** Materialize the minhash band-signature table BUCKETED by its
    * join key (band, sig) — the cluster deployment path for
    * continuous dedup: the signature table is built once per corpus
    * snapshot (or appended by st4's streaming registry), and every
    * candidate self-join — or a join from a new-docs delta against
    * the full corpus — is co-located and shuffle-free. BucketSpec
    * proves the no-Exchange property on the live plan.
    */
  def buildBucketedSignatures(t: Tables, db: String = "graft_sig",
      buckets: Int = 8): Unit = {
    graft.Warehouse.reset(t.spark, db, Seq("bands"))
    minhashDocs(t.documents.select("doc_id", "text"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band"),
        col("mhs"))
      .select(col("doc_id"), col("band"),
        concat_ws("-", slice(col("mhs"), col("band") * 4 + 1, lit(4))).as("sig"))
      .write.mode("overwrite")
      .bucketBy(buckets, "band", "sig").sortBy("band", "sig")
      .saveAsTable(s"$db.bands")
  }

  /** Candidate pairs from the bucketed signature table — the
    * (band, sig) self-join runs bucket-to-bucket with no Exchange on
    * either side.
    */
  def bucketedBandPairs(spark: org.apache.spark.sql.SparkSession,
      db: String = "graft_sig"): DataFrame = {
    val b = spark.table(s"$db.bands")
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Materialize the HYPERPLANE band-key table BUCKETED by its join
    * key — the continuous-ANN deployment path, mirroring
    * [[buildBucketedSignatures]] for d5/s4's embedding index: the
    * corpus lands once per snapshot as (vec_id, bk) bucketed+sorted
    * by the packed band key, so every candidate self-join — or a
    * new-docs delta probing the full corpus — is bucket-co-located
    * and Exchange-free on the stored side (BucketSpec-locked).
    * Exact collisions are the production near-dup regime
    * (cos ≥ 0.9 ⇒ p₁ ≥ 0.9, recall ~1.0 measured in DedupTextSpec);
    * Hamming-1 multi-probe TRANSFORMS the probe key, so a probing
    * delta re-shuffles only itself — the corpus-sized side never
    * moves.
    */
  def buildBucketedBandKeys(t: Tables, db: String = "graft_emb",
      buckets: Int = 8): Unit = {
    graft.Warehouse.reset(t.spark, db, Seq("bands"))
    hyperplaneBuckets(t.embeddings.select("vec_id", "embedding"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(s"$db.bands")
  }

  /** Candidate pairs from the bucketed band-key table — the bk
    * self-join runs bucket-to-bucket with no Exchange on either side.
    */
  def bucketedEmbeddingCandidates(spark: org.apache.spark.sql.SparkSession,
      db: String = "graft_emb"): DataFrame = {
    val b = spark.table(s"$db.bands")
    b.as("x").join(b.as("y"),
        col("x.bk") === col("y.bk") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** Shared minhash CTE chain (shingles → per-shingle md5 h1/h2 →
    * 16 affine-perm minima → 4×4 band signatures) — used by the d3
    * oracle and the st4 streaming-dedup oracle.
    */
  private[graft] val minhashCte: String =
    s"""$shingleCte,
       |hh AS (
       |  SELECT doc_id, sh, md5(sh) AS m FROM shx),
       |h12 AS (
       |  SELECT doc_id,
       |    list_sum([CAST((CASE WHEN ascii(substring(m, CAST(j AS INT), 1)) >= 97
       |               THEN ascii(substring(m, CAST(j AS INT), 1)) - 87
       |               ELSE ascii(substring(m, CAST(j AS INT), 1)) - 48 END) AS BIGINT)
       |              * CAST(power(16, 8 - j) AS BIGINT) FOR j IN range(1, 9)]) AS h1,
       |    list_sum([CAST((CASE WHEN ascii(substring(m, CAST(j AS INT) + 8, 1)) >= 97
       |               THEN ascii(substring(m, CAST(j AS INT) + 8, 1)) - 87
       |               ELSE ascii(substring(m, CAST(j AS INT) + 8, 1)) - 48 END) AS BIGINT)
       |              * CAST(power(16, 8 - j) AS BIGINT) FOR j IN range(1, 9)]) AS h2
       |  FROM hh),
       |mh AS (
       |  SELECT doc_id, p, min((h1 + p * h2) % 4294967291) AS v
       |  FROM h12, (SELECT unnest(range(0, 16)) AS p) perms
       |  GROUP BY doc_id, p),
       |bands AS (
       |  SELECT doc_id, CAST(p // 4 AS INT) AS band,
       |    string_agg(CAST(v AS VARCHAR), '-' ORDER BY p) AS sig
       |  FROM mh GROUP BY doc_id, CAST(p // 4 AS INT))""".stripMargin

  /** The d5 candidate construction (plane constants → signatures →
    * banded buckets → Hamming-1 multi-probe collisions) as a shared
    * CTE chain: used by the d5 oracle and the s4 k-NN-join oracle.
    */
  private[graft] val hyperplaneCandCte: String =
      """pl AS (
        |  SELECT h, i,
        |    ((CASE WHEN ascii(substring(md5(h || ':' || i), 1, 1)) >= 97
        |       THEN ascii(substring(md5(h || ':' || i), 1, 1)) - 87
        |       ELSE ascii(substring(md5(h || ':' || i), 1, 1)) - 48 END) * 16 +
        |     (CASE WHEN ascii(substring(md5(h || ':' || i), 2, 1)) >= 97
        |       THEN ascii(substring(md5(h || ':' || i), 2, 1)) - 87
        |       ELSE ascii(substring(md5(h || ':' || i), 2, 1)) - 48 END)) / 255.0 * 2 - 1 AS w
        |  FROM (SELECT unnest(range(0, 4096)) AS h), (SELECT unnest(range(0, 64)) AS i)),
        |pls AS (SELECT h, list(w ORDER BY i) AS pw FROM pl GROUP BY h),
        |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bits AS (
        |  SELECT vec_id, h,
        |    CASE WHEN list_dot_product(v, pw) >= 0 THEN '1' ELSE '0' END AS bit
        |  FROM vv, pls),
        |sig AS (
        |  SELECT vec_id, string_agg(bit, '' ORDER BY h) AS s FROM bits GROUP BY vec_id),
        |bands AS (
        |  SELECT vec_id, b AS band, substring(s, CAST(b AS INT) * 16 + 1, 16) AS bsig
        |  FROM sig, (SELECT unnest(range(0, 256)) AS b) bb),
        |probes AS (
        |  SELECT vec_id, band, CASE WHEN j = 0 THEN bsig
        |    ELSE substring(bsig, 1, CAST(j AS INT) - 1) ||
        |         (CASE WHEN substring(bsig, CAST(j AS INT), 1) = '1' THEN '0' ELSE '1' END) ||
        |         substring(bsig, CAST(j AS INT) + 1, 16 - CAST(j AS INT)) END AS psig
        |  FROM bands, (SELECT unnest(range(0, 17)) AS j) jj),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM probes x JOIN bands y
        |    ON x.band = y.band AND x.psig = y.bsig AND x.vec_id < y.vec_id)""".stripMargin

  private val decontaminateOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS tk
      |  FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(tk) >= 5 THEN
      |      [array_to_string(tk[i:i+4], ' ') FOR i IN range(1, greatest(len(tk) - 3, 1))]
      |    ELSE [] END) AS sh
      |  FROM toks),
      |shx AS (SELECT doc_id, unnest(sh) AS sh FROM shl),
      |bench AS (SELECT doc_id AS bench_id, sh FROM shx WHERE doc_id % 97 = 0)
      |SELECT t.doc_id AS train_id, b.bench_id, count(*) AS n_shared
      |FROM shx t JOIN bench b ON t.sh = b.sh
      |WHERE t.doc_id % 97 <> 0
      |GROUP BY 1, 2 ORDER BY train_id, bench_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // k-means replay (Ann's shared CTE) + within-cluster pair join;
    // cosine threshold applied to the ROUNDED score in both engines
    "d9_semdedup" ->
      s"""WITH ${Ann.kmeansReplayCte},
         |pr AS (
         |  SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) *
         |       sqrt(list_dot_product(b.v, b.v))), 4) AS cos
         |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT cid, vec_a, vec_b, cos FROM pr WHERE cos >= 0.45
         |ORDER BY cid, vec_a, vec_b""".stripMargin,
    // 8-token line synthesis + global first-occurrence window +
    // per-doc reassembly; BIGINT casts keep sums off HUGEINT
    "d8_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    [array_to_string(tk[(i-1)*8+1:(i-1)*8+8], ' ')
        |     FOR i IN range(1, CAST((len(tk)-1)//8 AS INT) + 2)] AS lines
        |  FROM toks WHERE len(tk) > 0),
        |e AS (
        |  SELECT doc_id,
        |    unnest([{ln: CAST(i AS INT) - 1, line: lines[CAST(i AS INT)]}
        |            FOR i IN range(1, len(lines) + 1)], recursive := true)
        |  FROM l),
        |k AS (
        |  SELECT doc_id, ln AS line_no, line,
        |    CASE WHEN row_number() OVER (PARTITION BY line
        |        ORDER BY doc_id, ln) = 1 THEN 1 ELSE 0 END AS kept
        |  FROM e)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  floor((sum(kept) * 1.0 / count(*)) * 10000 + 0.5) / 10000.0
        |    AS kept_frac,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY line_no)
        |        FILTER (WHERE kept = 1), '')) AS kept_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 5-gram twin of shingleCte + the tiny-side join; count(*) over
    // distinct-shingle collisions = |intersection of 5-gram sets|
    // positioned-shingle hits → covered positions → reassembly from
    // survivors (string_agg ignores the masked CASE nulls; coalesce
    // keeps the fully-masked doc's empty string matching array_join)
    "d14_selfrep_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS tk
        |  FROM documents),
        |tt AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |sh_pos AS (
        |  SELECT doc_id, i, array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS sh
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
        |        FROM tt WHERE len(tk) >= 5)),
        |dup AS (
        |  SELECT sh, min(doc_id) AS keeper
        |  FROM (SELECT DISTINCT doc_id, sh FROM sh_pos)
        |  GROUP BY sh HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, s.i + d.d AS j
        |  FROM sh_pos s JOIN dup b ON s.sh = b.sh AND s.doc_id <> b.keeper,
        |       (SELECT unnest(range(0, 5)) AS d) d),
        |tok_pos AS (
        |  SELECT doc_id, j, tk[CAST(j AS INT)] AS tok
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS j
        |        FROM tt)),
        |f AS (
        |  SELECT t.doc_id, count(*) AS n_tok, count(c.j) AS n_masked,
        |    coalesce(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
        |                        ' ' ORDER BY t.j), '') AS clean
        |  FROM tok_pos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.j = t.j
        |  GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_masked AS BIGINT) AS n_masked, md5(clean) AS clean_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "d11_overlap_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS tk
        |  FROM documents),
        |tt AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |bench AS (
        |  SELECT DISTINCT unnest(
        |    [array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)])
        |    AS sh
        |  FROM tt WHERE doc_id % 97 = 0 AND len(tk) >= 5),
        |sh_pos AS (
        |  SELECT doc_id, i, array_to_string(tk[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS sh
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
        |        FROM tt WHERE doc_id % 97 <> 0 AND len(tk) >= 5)),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, s.i + d.d AS j
        |  FROM sh_pos s JOIN bench b ON s.sh = b.sh,
        |       (SELECT unnest(range(0, 5)) AS d) d),
        |tok_pos AS (
        |  SELECT doc_id, j, tk[CAST(j AS INT)] AS tok
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS j
        |        FROM tt WHERE doc_id % 97 <> 0)),
        |f AS (
        |  SELECT t.doc_id, count(*) AS n_tok, count(c.j) AS n_masked,
        |    coalesce(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
        |                        ' ' ORDER BY t.j), '') AS clean
        |  FROM tok_pos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.j = t.j
        |  GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_masked AS BIGINT) AS n_masked, md5(clean) AS clean_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "d7_decontaminate" -> decontaminateOracleSql,
    // d12 is CONTRACT-equal to d7 (the bloom is a prefilter ahead of
    // the exact confirm join; false positives never reach the output),
    // so the oracle is d7's verbatim — which is exactly the claim the
    // gate should check
    "d12_bloom_decontaminate" -> decontaminateOracleSql,
    "d1_dedup_exact" ->
      """WITH o AS (
        |  SELECT doc_id, text, unnest(range(0, length(text), 100)) AS start
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, md5(substring(text, CAST(start AS INT) + 1, 200)) AS chunk_md5
        |  FROM o WHERE start = 0 OR start - 100 + 200 <= length(text))
        |SELECT chunk_md5, count(*) AS n_copies,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc
        |FROM c GROUP BY chunk_md5 HAVING count(*) >= 2
        |ORDER BY chunk_md5""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sz AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shx a JOIN shx b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(inter / (sa.nsh + sb.nsh - inter), 4) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE round(inter / (sa.nsh + sb.nsh - inter), 4) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $minhashCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, len(sh) AS nsh, sh FROM shl WHERE len(sh) > 0),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter, sa.nsh AS na, sb.nsh AS nb
         |  FROM cand JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, round(inter / (na + nb - inter), 4) AS jaccard
         |FROM v WHERE round(inter / (na + nb - inter), 4) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d3's pair derivation + recursive-CTE connected components
    // d6's labels + singleton fallback + the t7-style md5-uniform
    // replayed on the group representative
    "d10_group_split" ->
      s"""WITH RECURSIVE $minhashCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, len(sh) AS nsh, sh FROM shl WHERE len(sh) > 0),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter, sa.nsh AS na, sb.nsh AS nb
         |  FROM cand JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE round(inter / (na + nb - inter), 4) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS keep_doc FROM reach GROUP BY a),
         |g AS (
         |  SELECT d.doc_id, coalesce(l.keep_doc, d.doc_id) AS grp,
         |    md5('split:' || coalesce(l.keep_doc, d.doc_id)) AS m
         |  FROM documents d LEFT JOIN labels l USING (doc_id)),
         |h AS (
         |  SELECT doc_id, grp,
         |    list_sum([CAST((CASE WHEN ascii(substring(m, CAST(j AS INT), 1)) >= 97
         |               THEN ascii(substring(m, CAST(j AS INT), 1)) - 87
         |               ELSE ascii(substring(m, CAST(j AS INT), 1)) - 48 END) AS BIGINT)
         |              * CAST(power(16, 8 - j) AS BIGINT) FOR j IN range(1, 9)])
         |      / 4294967296.0 AS u
         |  FROM g)
         |SELECT doc_id, grp,
         |  CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
         |       WHEN u < CAST(0.9 AS DOUBLE) THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,
    "d6_dedup_groups" ->
      s"""WITH RECURSIVE $minhashCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, len(sh) AS nsh, sh FROM shl WHERE len(sh) > 0),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter, sa.nsh AS na, sb.nsh AS nb
         |  FROM cand JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE round(inter / (na + nb - inter), 4) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS keep_doc FROM reach GROUP BY a)
         |SELECT doc_id, keep_doc,
         |  count(*) OVER (PARTITION BY keep_doc) AS group_size
         |FROM labels ORDER BY doc_id""".stripMargin,
    // d6's recursive-CC labels + t2's quality formula: winner per
    // group by (q_score DESC, doc_id), singletons keep themselves
    "d13_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCte,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, len(sh) AS nsh, sh FROM shl WHERE len(sh) > 0),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sa.sh, sb.sh)) AS inter, sa.nsh AS na, sb.nsh AS nb
         |  FROM cand JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
         |p AS (
         |  SELECT doc_a, doc_b FROM v
         |  WHERE round(inter / (na + nb - inter), 4) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS grp FROM reach GROUP BY a),
         |g AS (SELECT doc_id, grp,
         |        CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS group_size
         |      FROM labels),
         |tq AS (
         |  SELECT doc_id, length(text) AS n_chars_t,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '') AS tk
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    floor((0.4 * least(n_chars_t / 500.0, 1.0) +
         |           0.3 * (len(list_distinct(tk)) / len(tk)) +
         |           0.3 * (len(list_filter(tk,
         |                    x -> x IN ('the','a','of','and','is'))) / len(tk)))
         |          * 10000 + 0.5) / 10000.0 AS q_score
         |  FROM tq WHERE len(tk) > 0),
         |win AS (
         |  SELECT g.doc_id, g.grp, g.group_size,
         |    coalesce(q.q_score, 0.0) AS q_score
         |  FROM g LEFT JOIN q USING (doc_id)
         |  QUALIFY row_number() OVER (PARTITION BY grp
         |            ORDER BY coalesce(q.q_score, 0.0) DESC, g.doc_id) = 1),
         |sing AS (
         |  SELECT d.doc_id, d.doc_id AS grp, CAST(1 AS BIGINT) AS group_size,
         |    coalesce(q.q_score, 0.0) AS q_score
         |  FROM documents d LEFT JOIN q USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM labels))
         |SELECT doc_id, grp, group_size, q_score FROM win
         |UNION ALL SELECT doc_id, grp, group_size, q_score FROM sing
         |ORDER BY doc_id""".stripMargin,
    "d4_simhash" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS all_toks,
        |    list_distinct(
        |      list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                  x -> x <> '')) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, [md5(x) FOR x IN toks] AS md5s,
        |    [len(list_filter(all_toks, y -> y = x)) FOR x IN toks] AS tfs
        |  FROM t WHERE len(toks) > 0),
        |s AS (
        |  SELECT doc_id, array_to_string(
        |    [CASE WHEN list_sum([
        |        (CAST(floor((CASE WHEN ascii(substring(md5s[j], CAST(floor(b / 4) AS INT) + 1, 1)) >= 97
        |                    THEN ascii(substring(md5s[j], CAST(floor(b / 4) AS INT) + 1, 1)) - 87
        |                    ELSE ascii(substring(md5s[j], CAST(floor(b / 4) AS INT) + 1, 1)) - 48 END)
        |             / power(2, 3 - b % 4)) AS BIGINT) % 2 * 2 - 1) * tfs[CAST(j AS INT)]
        |        FOR j IN range(1, len(md5s) + 1)]) >= 0 THEN '1' ELSE '0' END
        |     FOR b IN range(0, 64)], '') AS sim
        |  FROM m),
        |blk AS (
        |  SELECT doc_id, sim, b AS blk,
        |    substring(sim, CAST(b AS INT) * 16 + 1, 16) AS bval
        |  FROM s, (SELECT unnest(range(0, 4)) AS b) bb),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, x.sim AS sim_a,
        |                  y.doc_id AS doc_b, y.sim AS sim_b
        |  FROM blk x JOIN blk y
        |    ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id),
        |h AS (
        |  SELECT doc_a, doc_b,
        |    len(list_filter(range(1, 65),
        |        i -> substring(sim_a, CAST(i AS INT), 1) <> substring(sim_b, CAST(i AS INT), 1))) AS hamming
        |  FROM cand)
        |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // mirrors hyperplaneSig + hyperplaneBuckets + Hamming-1 multi-probe
    // (4096 planes = 256 bands × 16 bits, md5-seeded plane constants)
    "d5_embedding_neardup" ->
      s"""WITH $hyperplaneCandCte,
        |c AS (
        |  SELECT vec_a, vec_b,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
        |  FROM cand JOIN vv a ON a.vec_id = vec_a JOIN vv b ON b.vec_id = vec_b)
        |SELECT vec_a, vec_b, cos FROM c WHERE cos >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin
  )

}
