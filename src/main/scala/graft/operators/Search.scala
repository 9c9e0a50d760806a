package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-search index + scoring, Spark-first.
  *
  * The reference indexes chunk `content`/`filename` into a TF-IDF
  * index and serves top-5 keyword-filtered, field-boosted queries
  * (reference: zc_agent/load_data.py:43-60 `index_data` via
  * minsearch.Index, zc_agent/search_tools.py:7-17
  * `SearchTool.search` num_results=5).
  *
  * Scale design (100 TB posture): the index is two derived tables —
  * per-(doc,term) TF (one shuffle, map-side combined) and per-term
  * DF/IDF (second, much smaller shuffle). Scoring joins TF against
  * the query's term list: the query side is ≤ a handful of literal
  * terms, so Catalyst broadcasts it; the corpus is never broadcast
  * and never cross-joined. Corpus-wide scalars (N, avgdl) ride along
  * as broadcast 1-row aggregates, not driver collects. At cluster
  * scale the TF/IDF tables would be written once (bucketed by term)
  * and reused per query; here they are recomputed per call because
  * each call is a fresh plan.
  */
object Search {

  /** Per-(doc,term) term frequencies over `documents.text`. The scan
    * is spread across cores first — tokenize+explode is the CPU-heavy
    * step and the test table is a single-partition file.
    */
  def termFreq(t: Tables): DataFrame =
    t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Corpus-keyed STAGED search index: the TF table landed as parquet
    * ONCE per corpus and reused by every SERVING query — the
    * build-once/query-many contract a deployed search index actually
    * has (the reference builds its minsearch index once at startup
    * and serves every query from it; at 100 TB the index build is a
    * scheduled job and queries never re-tokenize the corpus). Same
    * lake-snapshot registry pattern as [[graft.operators.Dedup]]'s
    * CC-label registry and Ann.codebooks: computed once per (corpus)
    * key, every consumer reads a parquet scan. The index-BUILD
    * operators (r5/r6/r15/r17) keep computing from the raw corpus —
    * they ARE the build; the serving operators (r7/r8/r9/r13) read
    * the staged index.
    */
  private[graft] def tfStaged(t: Tables): DataFrame = {
    val dir = graft.Staging.dir(s"${t.dir}:tfidx", "tfidx") { d =>
      termFreq(t).write.mode("overwrite").parquet(d)
    }
    t.spark.read.parquet(dir)
  }

  /** Per-term document frequency + smoothed IDF (ln((N+1)/(df+1))+1,
    * the standard smooth-IDF; N = all documents). `idf` column is
    * UNROUNDED — consumers round only final scores. Takes the TF
    * table so callers can pass a cached one (at cluster scale TF/IDF
    * are materialized index tables built once; a per-query `.cache()`
    * is the local analog).
    */
  private def idfTable(t: Tables, tf: DataFrame): DataFrame = {
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    tf
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log((col("n_docs") + 1) / (col("df") + 1)) + 1)
  }

  /** Default query terms for the search operators (vocabulary words
    * present in the synthetic corpus; `src3` exercises the source
    * field boost in r9).
    */
  val queryTerms: Seq[String]      = Seq("spark", "filter", "join", "window", "group")
  val boostQueryTerms: Seq[String] = Seq("spark", "window", "src3")

  /** r5: tokenize + per-doc term frequencies (the index's TF half). */
  def r5TokenizeTf(t: Tables): DataFrame =
    termFreq(t).orderBy("doc_id", "term")

  /** r6: corpus document-frequency / IDF table (the index's DF half). */
  def r6DocFreq(t: Tables): DataFrame =
    idfTable(t, termFreq(t))
      .select(col("term"), col("df"), round(col("idf"), 4).as("idf"))
      .orderBy("term")

  /** r15: TOKENIZER-VOCABULARY INDUCTION — the frequency-cutoff
    * vocabulary build behind every tokenizer training run: per-term
    * corpus occurrences (with multiplicity) + document frequency,
    * ranked (count desc, term asc), top-K emitted with cumulative
    * corpus coverage — the curve that decides the vocab-size cutoff.
    *
    * Scale: one groupBy(term) with map-side partial aggregation over
    * the corpus, then a DISTRIBUTED top-K cut — `orderBy(...).limit(
    * topK)` plans as TakeOrderedAndProject (per-partition bounded
    * heaps, one K-row merge), NEVER a full-vocabulary sort or
    * single-partition window: a web corpus's distinct-term table runs
    * 10⁸–10⁹ rows (typos, numbers, hashes), so anything that funnels
    * the WHOLE vocab through one task is a scale-killer. The rank /
    * cumulative-coverage window then runs on the K survivors only
    * (≤ topK rows by construction), with the corpus total riding as a
    * 1-row broadcast. Plan shape spec-locked in PlanSpec.
    */
  def r15VocabBuild(t: Tables, topK: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = termFreq(t)
      .groupBy("term")
      .agg(sum("tf").as("n_occ"), count(lit(1)).as("df"))
    val total = counts.agg(sum("n_occ").as("total"))
    // TakeOrdered BEFORE any window: the ordering (n_occ desc, term) is
    // total (term is unique after the groupBy), so the K-row cut is
    // deterministic and rank over the survivors reproduces the old
    // full-vocab row_number exactly.
    val top = counts.orderBy(col("n_occ").desc, col("term")).limit(topK)
    val w = Window.orderBy(col("n_occ").desc, col("term"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum("n_occ")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("term"), col("n_occ"), col("df"),
        (floor(col("cum") / col("total") * 10000 + 0.5) / 10000.0)
          .as("coverage"))
      .orderBy("rank")
  }

  /** r17: BPE MERGE TRAINING — induce `nMerges` byte-pair-encoding
    * merges from the corpus's word-frequency dictionary: per step,
    * count adjacent symbol pairs weighted by word frequency, merge
    * the most frequent pair everywhere (greedy leftmost non-overlap,
    * ties broken (count desc, lhs, rhs)), repeat. Output = the merge
    * table (step, lhs, rhs, pair count at merge time, merged symbol)
    * — the artifact a tokenizer trainer actually ships; later steps
    * can merge tokens created by earlier steps (spec-checked).
    *
    * Scale: classic BPE trains on the AGGREGATED word dict (|V| ≪
    * corpus — MBs at 100 TB): the corpus is scanned ONCE for the
    * word-frequency groupBy; every iteration after that is a
    * projection + vocab-sized aggregate, and the per-step driver
    * state is a single argmax row (same O(1)-per-iteration contract
    * as s3's trained codebook). Symbol sequences ride as space-
    * wrapped strings (" c  a  t ") so a merge is ONE literal
    * `replace` — leftmost non-overlapping in both engines, which IS
    * the BPE pass rule (oracle applies the identical replace).
    */
  def r17BpeTrain(t: Tables, nMerges: Int = 8): DataFrame =
    bpeMerges(t.documents, "text", nMerges)

  /** DataFrame-form core of r17 over any (textCol) frame — the
    * `Graft.bpeTrain` facade entry.
    */
  private[graft] def bpeMerges(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeSeq(docs, textCol, nMerges)
      .toDF("step", "lhs", "rhs", "pair_n")
      .select(col("step"), col("lhs"), col("rhs"), col("pair_n"),
        concat(col("lhs"), col("rhs")).as("merged"))
      .orderBy("step")
  }

  /** The trained merge table as a driver-side list — the BOUNDED
    * artifact (≤ nMerges rows, same O(1)-per-step contract as s3's
    * centroids) that t14's encode folds into its projection.
    *
    * The corpus is scanned ONCE (the word-frequency groupBy); every
    * later step needs only the aggregated word dict, which is
    * vocab-sized by construction (|V| ≪ corpus — MBs at 100 TB). So
    * when the MEASURED dict size fits the shared [[graft.Guards]]
    * budget — the same mechanical gate the forced broadcasts earn —
    * the merge loop finishes LOCALLY in one collect
    * ([[bpeMergeSeqLocal]]: bit-identical greedy argmax + leftmost
    * replace), turning training from O(nMerges) sequential
    * vocab-scale Spark jobs into O(1) jobs total; a real 32k-merge
    * tokenizer is 2 jobs, not 32k. Past the budget (a dict that
    * genuinely can't sit on one machine) it degrades to the
    * distributed per-step loop, whose driver state stays a single
    * argmax row. Both paths are spec-locked bit-equal.
    */
  private[graft] def bpeMergeSeq(docs: DataFrame, textCol: String,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    graft.Caches.fresh()
    val words = graft.Caches.materialized(
      docs
        .select(explode(Text.tokenize(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq")))
    if (graft.Guards.fitsBudget(words.count()))
      bpeMergeSeqLocal(
        words.collect().map(r => (r.getString(0), r.getLong(1))), nMerges)
    else bpeMergeSeqDistributed(words, nMerges)
  }

  /** LOCAL merge loop over the collected word dict — the hot path
    * (the dict fit the measured Guards budget). Semantics are the
    * distributed loop's, operation for operation: the same " c  a  t "
    * space-wrapped form, pair counts summed over `split(trim(s),
    * "  ")` adjacency weighted by word freq, argmax tie-broken
    * (count desc, lhs, rhs) — ASCII tokens, so JVM string order =
    * UTF8String order — and each merge ONE literal leftmost
    * non-overlapping replace (`String.replace` = Spark `replace`).
    * Spec asserts bit-equal merge tables against
    * [[bpeMergeSeqDistributed]].
    */
  private[graft] def bpeMergeSeqLocal(words: Array[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var seqs = words.map { case (w, f) => (w.flatMap(c => s" $c "), f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (s, f) =>
        val tk = s.trim.split("  ")
        var i = 0
        while (i < tk.length - 1) {
          val k = (tk(i), tk(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        val ((a, b), c) = cnt.minBy { case ((x, y), n) => (-n, x, y) }
        merges += ((step, a, b, c))
        seqs = seqs.map { case (s, f) =>
          (s.replace(s" $a  $b ", s" $a$b "), f)
        }
        step += 1
      }
    }
    merges.result()
  }

  /** DISTRIBUTED merge loop — the past-the-budget fallback. The naive
    * form pays one vocab-scale job PER MERGE (a 32k-merge tokenizer =
    * 32k sequential jobs); this one FOLDS a run of merges into each
    * pass: the pass counts all adjacent pairs once, collects the top
    * `fetchTop` rows (a bounded driver list — never the dict), and
    * locally accepts the maximal PREFIX of pairs that are provably
    * the next true greedy merges, paying the next distributed count
    * only when local knowledge runs out.
    *
    * Greedy order is preserved EXACTLY — the prefix grows only while:
    *  - the pair shares no symbol (lhs, rhs, or merged string) with a
    *    merge accepted this pass. A merge (a,b)→ab changes only
    *    counts of pairs involving a, b, or ab, and can only CREATE
    *    pairs involving ab (each creation bounded by the old count of
    *    an (·,a)/(b,·)/(b,a) pair), so a disjoint pair's count and
    *    tie-key are untouched;
    *  - no pair TYING its count in the visible tail involves an
    *    accepted symbol: changed counts only decrease and created
    *    counts are bounded by a touched pair's old count, and any
    *    touched pair with a HIGHER count would have stopped the scan
    *    before this one — equality is where a created pair could
    *    steal the (count, lhs, rhs) tie-break, so ties must be clean;
    *  - when the collect was truncated at `fetchTop`, its count sits
    *    strictly above the truncation count (below-cut pairs are
    *    unknown; the list head itself is always safe — it is the
    *    global argmax of the very order the engine sorted by).
    * Worst case one merge per pass (the old loop, job-for-job); in
    * practice a pass folds many merges. Bit-equality with the local
    * loop is spec-locked on corpora engineered to trip every guard.
    */
  private[graft] def bpeMergeSeqDistributed(words: DataFrame,
      nMerges: Int, fetchTop: Int = 1024): Seq[(Int, String, String, Long)] = {
    var seqs = words.withColumn("s",
      regexp_replace(col("word"), "(.)", " $1 "))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // empty → a tiny corpus ran out of adjacent pairs before
      // nMerges — degrade to fewer rows (the oracle's LIMIT 1 CTEs
      // degrade identically)
      val top = seqs
        .select(col("freq"), split(trim(col("s")), "  ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("tk")) - 2),
            i => struct(element_at(col("tk"), i + 1).as("a"),
              element_at(col("tk"), i + 2).as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(fetchTop).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
          r.getAs[Long]("cnt")))
      if (top.isEmpty) exhausted = true
      else {
        val truncated = top.length == fetchTop
        val cutCnt = top.last._3
        val touched = scala.collection.mutable.Set.empty[String]
        var i = 0
        var stop = false
        while (!stop && i < top.length && step <= nMerges) {
          val (a, b, c) = top(i)
          def tiedTailClean: Boolean = {
            var j = i + 1
            var ok = true
            while (ok && j < top.length && top(j)._3 == c) {
              if (touched(top(j)._1) || touched(top(j)._2)) ok = false
              j += 1
            }
            ok
          }
          val safe = i == 0 ||
            (!touched(a) && !touched(b) &&
              (!truncated || c > cutCnt) && tiedTailClean)
          if (!safe) stop = true
          else {
            merges += ((step, a, b, c))
            seqs = seqs.withColumn("s",
              replace(col("s"), lit(s" $a  $b "), lit(s" $a$b ")))
            touched += a; touched += b; touched += (a + b)
            step += 1
            i += 1
          }
        }
      }
    }
    merges.result()
  }

  /** t14: BPE ENCODE — the inference half of r17: apply the TRAINED
    * merge table to every document, each merge a leftmost
    * non-overlapping pass in training order (the BPE apply rule, the
    * same space-wrapped `replace` the trainer uses). Words are
    * char-split and space-wrapped exactly as in training; word
    * boundaries ride as a '|' bar that no merge pattern can span (the
    * token alphabet is [a-z0-9] and every merge pattern ' x  y ' needs
    * double spaces, while the bar region has single spaces).
    *
    * Scale: the merge table is the bounded trained artifact (≤ nMerges
    * rows on the driver); the encode itself is a PURE chained-replace
    * projection — no join, no shuffle, corpus-scan cost only, fully
    * codegen'd. This is the operator that makes r17's artifact
    * consumable: r15/t11 cover word-level vocab encode; t14 covers
    * subword encode under trained merges.
    *
    * Oracle: replays TRAINING (r17's CTE chain verbatim) and then the
    * doc chain d0..dN applying each learned merge with the identical
    * replace — the oracle re-derives both halves, trusting neither.
    */
  def t14BpeEncode(t: Tables, nMerges: Int = 8): DataFrame =
    bpeEncodeFrom(t.documents.select("doc_id", "text"), nMerges)

  /** DataFrame form of t14 for the graft.api facade: any
    * (doc_id, text) frame in; trains the merge table on the SAME
    * frame (callers holding a trained table should apply
    * [[bpeApply]] directly).
    */
  private[graft] def bpeEncodeFrom(docsIn: DataFrame, nMerges: Int,
      sorted: Boolean = true): DataFrame = {
    val merges = bpeMergeSeq(docsIn, "text", nMerges)
    val out = bpeApply(docsIn, merges)
    if (sorted) out.orderBy("doc_id") else out
  }

  /** Apply an already-trained merge table to a (doc_id, text) frame —
    * the pure-projection inference half, reusable under a pinned
    * tokenizer artifact (the st11 pinned-model contract).
    */
  private[graft] def bpeApply(docsIn: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val init = array_join(transform(col("tk"),
      w => regexp_replace(w, "(.)", " $1 ")), "|")
    val merged = merges.foldLeft(init) { case (c, (_, a, b, _)) =>
      replace(c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    docsIn
      .select(col("doc_id"), Text.tokenize(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        filter(split(trim(merged), " +"), x => x =!= "|").as("subs"))
      .select(col("doc_id"),
        size(col("subs")).cast("long").as("n_sub"),
        md5(array_join(col("subs"), " ")).as("sub_md5"))
  }

  /** DuckDB replay of r17: the same N merge iterations as chained
    * CTEs — pair counts off w{i-1}, argmax with the identical
    * tie-break, the identical space-wrapped `replace`. Generated by a
    * loop for the same reason s3's k-means oracle replays Lloyd's
    * iterations: the oracle must re-derive training, not trust it.
    */
  private def bpeOracleSql(n: Int): String =
    bpeOracleCtes(n) + "\n" + {
      val union = (1 to n).map { i =>
        s"SELECT $i AS step, a AS lhs, b AS rhs, cnt AS pair_n," +
          s" a || b AS merged FROM p$i"
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$union\n) ORDER BY step"
    }

  /** The shared training replay (toks → words → w0, then p1/w1 ..
    * pN/wN) as a WITH chain, reused by both r17's and t14's oracles.
    */
  private def bpeOracleCtes(n: Int): String = {
    val head =
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |words AS (
        |  SELECT u AS word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(tk) AS u FROM toks) GROUP BY 1),
        |w0 AS (
        |  SELECT word, freq, regexp_replace(word, '(.)', ' \1 ', 'g') AS s
        |  FROM words)""".stripMargin
    val iters = (1 to n).map { i =>
      s"""p$i AS (
         |  SELECT a, b, cnt FROM (
         |    SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |    FROM (SELECT freq,
         |            unnest([{'a': tk[i], 'b': tk[i+1]}
         |                    FOR i IN range(1, len(tk))]) AS pr
         |          FROM (SELECT freq, string_split(trim(s), '  ') AS tk
         |                FROM w${i - 1}))
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (
         |  SELECT word, freq,
         |    replace(s, ' ' || a || '  ' || b || ' ',
         |               ' ' || a || b || ' ') AS s
         |  FROM w${i - 1} CROSS JOIN p$i)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** DuckDB replay of t14: the full training chain (bpeOracleCtes),
    * then the doc chain d0..dN — each doc char-split/space-wrapped
    * with '|' word bars, each learned merge applied with the identical
    * space-wrapped replace. LEFT JOIN ON TRUE (not CROSS JOIN) so an
    * early-exhausted trainer (empty p_i) degrades to a no-op step,
    * matching the Spark side folding only the merges found.
    */
  private[graft] def bpeEncodeOracleSql(n: Int): String = {
    val d0 =
      """d0 AS (
        |  SELECT doc_id,
        |    array_to_string([regexp_replace(w, '(.)', ' \1 ', 'g')
        |                     FOR w IN tk], '|') AS s
        |  FROM toks WHERE len(tk) > 0)""".stripMargin
    val dchain = (1 to n).map { i =>
      s"""d$i AS (
         |  SELECT doc_id, CASE WHEN a IS NULL THEN s
         |    ELSE replace(s, ' ' || a || '  ' || b || ' ',
         |                    ' ' || a || b || ' ') END AS s
         |  FROM d${i - 1} LEFT JOIN p$i ON TRUE)""".stripMargin
    }
    (bpeOracleCtes(n) +: d0 +: dchain).mkString(",\n") +
      s"""
         |SELECT doc_id, CAST(len(subs) AS BIGINT) AS n_sub,
         |  md5(array_to_string(subs, ' ')) AS sub_md5
         |FROM (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(s), ' +'),
         |                    x -> x <> '|') AS subs
         |      FROM d$n)
         |ORDER BY doc_id""".stripMargin
  }

  /** Doc-term weights w = (1 + ln(tf)) * idf (ltc-style) over a
    * (cached) TF table.
    */
  private def weights(t: Tables, tf: DataFrame): DataFrame =
    tf
      .join(idfTable(t, tf).select("term", "idf"), "term")
      .withColumn("w", (lit(1.0) + log(col("tf"))) * col("idf"))

  /** r7: cosine-normalized TF-IDF top-5 for a fixed query, served
    * from the staged index ([[tfStaged]]).
    */
  def r7TfidfSearch(t: Tables): DataFrame = {
    graft.Caches.fresh()
    val w = graft.Caches.materialized(weights(t, tfStaged(t)))
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val num = w.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id").agg(sum(col("w") * col("idf")).as("num"))
    num.join(norms, "doc_id")
      .select(col("doc_id"), round(col("num") / col("nrm"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(5)
  }

  /** r8: BM25 (k1=1.2, b=0.75) top-5 for the same query. N and avgdl
    * are over docs that produced ≥1 token.
    */
  def r8Bm25Search(t: Tables): DataFrame = {
    graft.Caches.fresh()
    searchBm25From(graft.Caches.materialized(tfStaged(t)), queryTerms, 5)
  }

  /** BM25 core over any (doc_id, term, tf) frame — facade entry. */
  private[graft] def searchBm25From(tf: DataFrame, terms: Seq[String],
      k: Int): DataFrame =
    bm25Scores(tf, terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** The ONE BM25 contribution tree (k1 = 1.2, b = 0.75) every
    * scorer shares — inline ([[bm25Scores]]), staged
    * ([[bm25ScoresStaged]]) and the eval harness (r19); expects
    * idf_bm/tf/dl/avgdl columns in scope. One tree means the staged
    * and inline rankings cannot drift apart under a future tuning.
    */
  private[graft] def bm25ContribCol: org.apache.spark.sql.Column = {
    val k1 = bm25K1; val b = bm25B
    col("idf_bm") * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
  }

  /** [[bm25ContribCol]] on driver doubles, operation for operation in
    * the same order, so a driver-side score is bit-equal to Spark's.
    */
  private[graft] def bm25Contrib(idf: Double, tf: Double, dl: Double,
      avgdl: Double): Double = {
    val k1 = bm25K1; val b = bm25B
    idf * tf * (k1 + 1) / (tf + k1 * ((1 - b) + b * dl / avgdl))
  }

  /** The UNLIMITED per-doc BM25 scores (rounded) — [[searchBm25From]]
    * cuts these; r20's interpolation consumes both passes whole.
    */
  private[graft] def bm25Scores(tf: DataFrame,
      terms: Seq[String]): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("nd"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_bm",
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)))
    tf.filter(col("term").isin(terms: _*))
      .join(idf.select("term", "idf_bm", "avgdl"), "term")
      .join(dl, "doc_id")
      .withColumn("contrib", bm25ContribCol)
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
  }

  /** Deterministic term→bucket for a PARTITIONED postings layout
    * (p2's `tf_b`): top 32 md5 bits of the term mod `nBuckets`. The
    * Column form runs at build; the Scala form folds the same bytes
    * driver-side for the query's literal terms, so a query's bucket
    * set is a literal partition filter on the scan.
    */
  private[graft] def termBucket(term: Column, nBuckets: Int): Column =
    conv(substring(md5(term), 1, 8), 16, 10).cast("long") % nBuckets

  private[graft] def termBucketOf(term: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(term.getBytes("UTF-8"))
    val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    (u % nBuckets).toInt
  }

  /** BM25 over STAGED towers (build-once/query-many serving — p3's
    * lexical side and p2's serving row): `postings` carries (doc_id,
    * term, tf, dl) with the doc length DENORMALIZED into the posting
    * at build (the classic inverted-index shape: the corpus side of
    * serving is join-free); the index's precomputed per-term `idf`
    * (term → idf_bm) and `avgdl` enter the plan as literals (only the
    * query's terms' entries). The contrib expression is
    * [[bm25Scores]]' own tree over the same values, so staged and
    * inline scoring agree (scores round to 4 decimals before the cut,
    * as everywhere in the family).
    */
  private[graft] def bm25ScoresStaged(postings: DataFrame,
      idf: Map[String, Double], avgdl: Double,
      terms: Seq[String]): DataFrame =
    withBm25Contrib(postings, idf, avgdl, terms)
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))

  /** `postings` cut to the query terms the vocabulary holds (the
    * rows an inner join with the idf table keeps), with each
    * posting's BM25 `contrib` under literal weights.
    */
  private[graft] def withBm25Contrib(postings: DataFrame,
      idf: Map[String, Double], avgdl: Double,
      terms: Seq[String]): DataFrame = {
    val known = terms.distinct.filter(idf.contains)
    postings.filter(col("term").isin(known: _*))
      .withColumn("idf_bm",
        element_at(typedLit(known.map(t => t -> idf(t)).toMap), col("term")))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("contrib", bm25ContribCol)
  }

  /** r20: RM3 PSEUDO-RELEVANCE FEEDBACK — the classic two-pass query
    * expansion (Lavrenko & Croft relevance models, the RM3
    * interpolated form Anserini/Lucene ship as `-rm3`): pass 1 runs
    * the plain BM25 query; the top `fbDocs` hits are PRESUMED
    * relevant and vote for expansion terms by their relevance-model
    * mass w(t) = Σ_d tf(t,d)/|d| · score(d) (original query terms
    * excluded); the top `fbTerms` terms form the expansion query;
    * pass 2 scores it, and the final rank interpolates
    * α·orig + β·expansion. Fixes the vocabulary-mismatch failure —
    * docs about the query's TOPIC that share none of its words.
    *
    * Determinism: term votes sum as INTEGER numerators
    * (floor(tf/dl·score·10⁹) as BIGINT — the t17 pattern), so the
    * expansion-term cut is exact in both engines; pass scores are
    * r8's rounded arithmetic; `beta` is an explicit literal, not
    * 1−α (s7's IEEE lesson).
    *
    * Scale: two postings-join passes over the SAME cached tf index +
    * one feedback-doc-sized broadcast + a model-sized term collect
    * (fbTerms strings); the interpolation is one id-keyed full join
    * of two score frames. Nothing new materializes beyond r8's own
    * shapes.
    */
  def r20Rm3Expand(t: Tables, fbDocs: Int = 5, fbTerms: Int = 5,
      alpha: Double = 0.6, beta: Double = 0.4, k: Int = 5): DataFrame = {
    graft.Caches.fresh()
    val tf = graft.Caches.materialized(tfStaged(t))
    val s1 = graft.Caches.materialized(bm25Scores(tf, queryTerms))
    val fb = s1.orderBy(col("score").desc, col("doc_id")).limit(fbDocs)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val expTerms = tf
      .join(broadcast(fb), "doc_id")
      .join(dl, "doc_id")
      .filter(!col("term").isin(queryTerms: _*))
      .withColumn("c_int", floor(col("tf").cast("double") /
        col("dl").cast("double") * col("score") * lit(1e9)).cast("long"))
      .groupBy("term").agg(sum("c_int").as("w_int"))
      .orderBy(col("w_int").desc, col("term")).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    val s2 = bm25Scores(tf, expTerms)
      .withColumnRenamed("score", "score_exp")
    s1.join(s2, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("score"), lit(0.0)).as("score_orig"),
        coalesce(col("score_exp"), lit(0.0)).as("score_exp"),
        round(lit(alpha) * coalesce(col("score"), lit(0.0)) +
          lit(beta) * coalesce(col("score_exp"), lit(0.0)), 4)
          .as("score_rm3"))
      .orderBy(col("score_rm3").desc, col("doc_id"))
      .limit(k)
  }

  /** r19: SEARCH QUALITY EVALUATION — the text-retrieval twin of
    * s8's ANN recall gate: for a deterministic doc-derived query set
    * (each of the first `nQueries` docs asks its own top-`topT`
    * terms), score the whole corpus with r8's exact BM25 arithmetic
    * and report where the SOURCE doc ranks — per-query rank,
    * reciprocal rank, hit@k. This is the self-retrieval eval every
    * search index ships with (the reference generates eval questions
    * FROM docs — eval/generate_questions.py — and checks the doc
    * comes back; here the query derivation is deterministic so the
    * whole measurement replays in SQL).
    *
    * Scale: queries ≪ corpus by construction (a sampled eval set —
    * s8's contract); query terms are a broadcast table; the corpus
    * pays one postings join + per-(query, doc) partial agg; the rank
    * window is partitioned by query id. Rounded scores + id
    * tie-breaks make ranks engine-portable.
    */
  def r19SearchEval(t: Tables, nQueries: Int = 16, topT: Int = 3,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Caches.fresh()
    val tf = graft.Caches.materialized(tfStaged(t))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("nd"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_bm",
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)))
    val wq = Window.partitionBy("qid").orderBy(col("tf").desc, col("term"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("term"), col("tf"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= topT)
      .select("qid", "term")
    val scores = tf.join(broadcast(qterms), "term")
      .join(idf.select("term", "idf_bm", "avgdl"), "term")
      .join(dl, "doc_id")
      .withColumn("contrib", bm25ContribCol)
      .groupBy("qid", "doc_id").agg(round(sum("contrib"), 4).as("score"))
    val wr = Window.partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(wr).cast("long"))
      .withColumn("n_cand", count(lit(1)).over(
        Window.partitionBy("qid")).cast("long"))
      .filter(col("doc_id") === col("qid"))
      .select(col("qid").as("query_doc"), col("n_cand"), col("rank"),
        (floor(lit(1.0) / col("rank") * 10000 + 0.5) / 10000.0).as("rr"),
        (col("rank") <= k).cast("int").as(s"hit$k"))
      .orderBy("query_doc")
  }

  /** r9: keyword-filtered (lang='en'), field-boosted search: text
    * match (unnormalized TF-IDF) + 3.0 × source-field match. IDF is
    * fit on the full corpus; the filter applies at query time, as in
    * the reference's filter_dict/boost_dict.
    */
  def r9FilterBoostSearch(t: Tables): DataFrame = {
    graft.Caches.fresh()
    val num = weights(t, graft.Caches.materialized(tfStaged(t)))
      .filter(col("term").isin(boostQueryTerms: _*))
      .groupBy("doc_id").agg(sum(col("w") * col("idf")).as("tnum"))
    t.documents.filter(col("lang") === "en").select("doc_id", "source")
      .join(num, Seq("doc_id"), "left")
      .withColumn("score", round(
        coalesce(col("tnum"), lit(0.0)) +
          lit(3.0) * when(col("source").isin(boostQueryTerms: _*), 1.0).otherwise(0.0),
        4))
      .filter(col("score") > 0)
      .select("doc_id", "source", "score")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(5)
  }

  /** r18: HYBRID RETRIEVAL with reciprocal-rank fusion — the standard
    * two-tower RAG serving pattern the reference's minsearch-only
    * stack stops short of: a LEXICAL ranking (r8's BM25 over the
    * staged TF index) and a DENSE ranking (s1's exact cosine against
    * the probe embedding, vec_id keyed to doc_id) are each cut to
    * their top-`kList`, then fused by RRF (Cormack et al.):
    * score(d) = Σ_lists 1/(rrfK + rank_list(d)), missing list ⇒ 0.
    * RRF needs no score calibration between the towers — only ranks —
    * which is why it is the default fusion in hybrid search engines.
    *
    * Scale: each tower ends in a distributed TakeOrdered top-kList
    * (never a global sort); the rank windows then run on ≤ kList rows
    * (k-sized, not corpus-sized), and the fusion is a k×k full-outer
    * join — driver-free throughout, and each tower reuses its staged
    * index (TF table here; at 100 TB the dense tower is s3/st15's IVF
    * lists instead of the brute-force scan, same fusion contract).
    * Docs without an embedding row simply never enter the dense list
    * — RRF's missing-list zero handles partial dense coverage, the
    * normal state while an embedding backfill runs.
    */
  def r18HybridRrf(t: Tables, probeId: Long = 0L, kList: Int = 20,
      kOut: Int = 10, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Caches.fresh()
    // lexical tower: r8's exact scoring, wider cut
    val lex = searchBm25From(
      graft.Caches.materialized(tfStaged(t)), queryTerms, kList)
    // dense tower: s1's exact cosine vs the probe vector (rounded to
    // the 1e-4 grid BEFORE ranking so rank order is engine-portable)
    val probe = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("pv"))
    val dense = t.embeddings.filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.Vectors.cosine(col("v"), col("pv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(kList)
    // fusion delegates to the library core (Graft.rrfFuse — ONE home
    // for the RRF formula, so operator and facade cannot silently
    // diverge); its rank windows run AFTER the top-k cuts, ≤ kList
    // rows each by construction
    graft.api.Graft.rrfFuse(
        Seq(lex, dense.withColumnRenamed("cos", "score")),
        "doc_id", "score", kOut, rrfK)
      .withColumnRenamed("r_0", "r_lex")
      .withColumnRenamed("r_1", "r_vec")
      .select("doc_id", "rrf", "r_lex", "r_vec")
  }

  /** r13: the reference's ACTUAL user-facing entry — a raw query
    * STRING (mixed case + punctuation), tokenized inside the engine
    * (reference: zc_agent/search_tools.py:7-16 `SearchTool.search`
    * takes `query: str`). Same TF-IDF scoring as r7, so the r7 oracle
    * applies verbatim — which is exactly the point: the string path
    * must produce the identical ranking.
    */
  def r13SearchQueryString(t: Tables): DataFrame =
    // Graft.search owns its cache scope (fresh() + cached weights);
    // the Tables path serves from the staged index like r7/r8/r9
    graft.api.Graft.search(t.documents, "doc_id", "text",
      "Spark FILTER join; window... GROUP?", k = 5,
      tfIn = Some(tfStaged(t)))

  /** Materialize the search index as bucketed tables (the cluster
    * deployment path): TF and IDF both bucketed+sorted by `term`, so
    * every term-keyed join between them — and any future query scoring
    * join against a bucketed query-expansion table — is co-located and
    * shuffle-free. At 100 TB the index build runs once per corpus
    * snapshot and queries reuse it; `BucketSpec` proves the no-shuffle
    * property on the live plan.
    */
  def buildBucketedIndex(t: Tables, db: String = "graft_idx",
      buckets: Int = 8): Unit = {
    val spark = t.spark
    graft.Warehouse.reset(spark, db, Seq("tf", "idf"))
    termFreq(t).write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"$db.tf")
    idfTable(t, spark.table(s"$db.tf")).select("term", "df", "idf")
      .write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"$db.idf")
  }

  /** TF-IDF numerator scoring against the bucketed index — the term
    * join is co-located (no Exchange on either side).
    */
  def bucketedScore(spark: org.apache.spark.sql.SparkSession,
      terms: Seq[String], db: String = "graft_idx"): DataFrame =
    spark.table(s"$db.tf")
      .filter(col("term").isin(terms: _*))
      .join(spark.table(s"$db.idf"), "term")
      .withColumn("w", (lit(1.0) + log(col("tf"))) * col("idf"))
      .groupBy("doc_id").agg(sum(col("w") * col("idf")).as("score"))

  private val tokCte =
    """tok AS (
      |  SELECT doc_id, t AS term FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
      |    FROM documents) u
      |  WHERE t <> ''),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)""".stripMargin

  val oracle: Map[String, String] = Map(
    // full 8-iteration BPE replay (generated CTE chain)
    "r17_bpe_train" -> bpeOracleSql(8),
    "t14_bpe_encode" -> bpeEncodeOracleSql(8),
    // vocab counts + rank/coverage window; BIGINT casts keep the
    // HUGEINT sums off the compare path
    "r15_vocab_build" ->
      s"""WITH $tokCte,
         |c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS n_occ,
         |        count(*) AS df FROM tf GROUP BY term),
         |tot AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total FROM c),
         |r AS (SELECT term, n_occ, df,
         |        row_number() OVER (ORDER BY n_occ DESC, term) AS rank,
         |        CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, term
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM c)
         |SELECT rank, term, n_occ, df,
         |  floor((cum * 1.0 / total) * 10000 + 0.5) / 10000.0 AS coverage
         |FROM r, tot WHERE rank <= 16 ORDER BY rank""".stripMargin,
    "r5_tokenize_tf" ->
      s"""WITH $tokCte
         |SELECT doc_id, term, tf FROM tf ORDER BY doc_id, term""".stripMargin,
    "r6_doc_freq" ->
      s"""WITH $tokCte,
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT term, df, round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 4) AS idf
         |FROM d, n ORDER BY term""".stripMargin,
    "r7_tfidf_search" ->
      s"""WITH $tokCte,
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT term, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM d, n),
         |w AS (SELECT tf.doc_id, tf.term, (1.0 + ln(tf.tf)) * idf.idf AS w, idf.idf
         |      FROM tf JOIN idf USING (term)),
         |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
         |q AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
         |num AS (SELECT w.doc_id, sum(w.w * w.idf) AS num
         |        FROM w JOIN q USING (term) GROUP BY w.doc_id)
         |SELECT num.doc_id, round(num.num / norms.nrm, 4) AS score
         |FROM num JOIN norms USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 5""".stripMargin,
    // r8's BM25 CTE chain with PER-QUERY terms (each query doc's
    // top-3 tf-desc terms), rank window per query, source-doc row
    "r19_search_eval" ->
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS nd FROM dl),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf_bm
         |        FROM d, stats),
         |qt AS (
         |  SELECT qid, term FROM (
         |    SELECT doc_id AS qid, term,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
         |    FROM tf WHERE doc_id < 16) t
         |  WHERE rn <= 3),
         |c AS (SELECT qt.qid, tf.doc_id,
         |        idf.idf_bm * tf.tf * 2.2 /
         |          (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS contrib
         |      FROM tf JOIN qt USING (term) JOIN idf USING (term)
         |           JOIN dl USING (doc_id), stats),
         |s AS (SELECT qid, doc_id, round(sum(contrib), 4) AS score FROM c
         |      GROUP BY qid, doc_id),
         |r AS (SELECT qid, doc_id,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY score DESC, doc_id) AS rank,
         |        count(*) OVER (PARTITION BY qid) AS n_cand
         |      FROM s)
         |SELECT qid AS query_doc, CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(rank AS BIGINT) AS rank,
         |  floor(1.0 / rank * 10000 + 0.5) / 10000.0 AS rr,
         |  CAST(rank <= 5 AS INT) AS hit5
         |FROM r WHERE doc_id = qid ORDER BY query_doc""".stripMargin,
    "r8_bm25_search" ->
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS nd FROM dl),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf_bm
         |        FROM d, stats),
         |q AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
         |c AS (SELECT tf.doc_id,
         |        idf.idf_bm * tf.tf * 2.2 /
         |          (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS contrib
         |      FROM tf JOIN q USING (term) JOIN idf USING (term)
         |           JOIN dl USING (doc_id), stats)
         |SELECT doc_id, round(sum(contrib), 4) AS score FROM c
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 5""".stripMargin,
    // RM3 replayed whole: r8's pass-1 chain, the top-5 feedback cut,
    // integer-numerator term votes (floor(tf/dl·score·1e9) as BIGINT
    // — exact in both engines), the excluded-query-terms top-5
    // expansion, pass 2 verbatim, α/β interpolation
    "r20_rm3_expand" ->
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS nd FROM dl),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf_bm
         |        FROM d, stats),
         |q AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
         |c1 AS (SELECT tf.doc_id,
         |         idf.idf_bm * tf.tf * 2.2 /
         |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS contrib
         |       FROM tf JOIN q USING (term) JOIN idf USING (term)
         |            JOIN dl USING (doc_id), stats),
         |s1 AS (SELECT doc_id, round(sum(contrib), 4) AS score FROM c1
         |       GROUP BY doc_id),
         |fb AS (SELECT doc_id, score FROM s1
         |       ORDER BY score DESC, doc_id LIMIT 5),
         |wg AS (
         |  SELECT tf.term,
         |    sum(CAST(floor(CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE)
         |                   * fb.score * 1000000000.0) AS BIGINT)) AS w_int
         |  FROM tf JOIN fb USING (doc_id) JOIN dl USING (doc_id)
         |  WHERE tf.term NOT IN ('spark','filter','join','window','group')
         |  GROUP BY tf.term ORDER BY w_int DESC, term LIMIT 5),
         |c2 AS (SELECT tf.doc_id,
         |         idf.idf_bm * tf.tf * 2.2 /
         |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS contrib
         |       FROM tf JOIN wg ON tf.term = wg.term
         |            JOIN idf ON idf.term = tf.term
         |            JOIN dl USING (doc_id), stats),
         |s2 AS (SELECT doc_id, round(sum(contrib), 4) AS score_exp FROM c2
         |       GROUP BY doc_id)
         |SELECT doc_id,
         |  coalesce(score, 0.0) AS score_orig,
         |  coalesce(score_exp, 0.0) AS score_exp,
         |  round(0.6 * coalesce(score, 0.0) +
         |        0.4 * coalesce(score_exp, 0.0), 4) AS score_rm3
         |FROM s1 FULL JOIN s2 USING (doc_id)
         |ORDER BY score_rm3 DESC, doc_id LIMIT 5""".stripMargin,
    // RRF fusion replay: r8's BM25 CTE chain cut at 20, s1's cosine
    // cut at 20, row_number ranks, full-outer fuse at k=60
    "r18_hybrid_rrf" ->
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT avg(dl) AS avgdl, count(*) AS nd FROM dl),
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |idf AS (SELECT term, ln(1.0 + (nd - df + 0.5) / (df + 0.5)) AS idf_bm
         |        FROM d, stats),
         |q AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
         |c AS (SELECT tf.doc_id,
         |        idf.idf_bm * tf.tf * 2.2 /
         |          (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS contrib
         |      FROM tf JOIN q USING (term) JOIN idf USING (term)
         |           JOIN dl USING (doc_id), stats),
         |lex AS (SELECT doc_id, round(sum(contrib), 4) AS score FROM c
         |        GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
         |lr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
         |       FROM lex),
         |p AS (SELECT CAST(embedding AS DOUBLE[]) AS pv
         |      FROM embeddings WHERE vec_id = 0),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id <> 0),
         |dn AS (SELECT vec_id AS doc_id,
         |         round(list_dot_product(v, pv) /
         |               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))), 4) AS cos
         |       FROM v, p ORDER BY cos DESC, doc_id LIMIT 20),
         |dr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY cos DESC, doc_id) AS r_vec
         |       FROM dn)
         |SELECT doc_id,
         |  round(COALESCE(1.0 / (60 + r_lex), 0) +
         |        COALESCE(1.0 / (60 + r_vec), 0), 6) AS rrf,
         |  r_lex, r_vec
         |FROM lr FULL OUTER JOIN dr USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // identical scoring to r7 by construction — the string entry must
    // reproduce the term-list ranking bit-for-bit
    "r13_search_query_string" ->
      s"""WITH $tokCte,
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT term, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM d, n),
         |w AS (SELECT tf.doc_id, tf.term, (1.0 + ln(tf.tf)) * idf.idf AS w, idf.idf
         |      FROM tf JOIN idf USING (term)),
         |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
         |q AS (SELECT unnest(['spark','filter','join','window','group']) AS term),
         |num AS (SELECT w.doc_id, sum(w.w * w.idf) AS num
         |        FROM w JOIN q USING (term) GROUP BY w.doc_id)
         |SELECT num.doc_id, round(num.num / norms.nrm, 4) AS score
         |FROM num JOIN norms USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 5""".stripMargin,
    "r9_filter_boost_search" ->
      s"""WITH $tokCte,
         |d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT term, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM d, n),
         |w AS (SELECT tf.doc_id, tf.term, (1.0 + ln(tf.tf)) * idf.idf AS w, idf.idf
         |      FROM tf JOIN idf USING (term)),
         |q AS (SELECT unnest(['spark','window','src3']) AS term),
         |num AS (SELECT w.doc_id, sum(w.w * w.idf) AS tnum
         |        FROM w JOIN q USING (term) GROUP BY w.doc_id)
         |SELECT doc_id, source,
         |  round(coalesce(tnum, 0.0) +
         |        3.0 * CASE WHEN source IN ('spark','window','src3') THEN 1.0 ELSE 0.0 END,
         |        4) AS score
         |FROM documents LEFT JOIN num USING (doc_id)
         |WHERE lang = 'en'
         |  AND round(coalesce(tnum, 0.0) +
         |        3.0 * CASE WHEN source IN ('spark','window','src3') THEN 1.0 ELSE 0.0 END,
         |        4) > 0
         |ORDER BY score DESC, doc_id LIMIT 5""".stripMargin
  )
}
