package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All are pure
  * per-row projections over one scan (array expressions, codegen'd
  * built-ins) — embarrassingly parallel at any scale, no shuffle at
  * all; only final `orderBy` (verification cosmetics) sorts.
  */
object TextAnalysis {

  /** Marker-word profiles per language (stopword-profile language ID:
    * score = number of tokens, with multiplicity, in the profile;
    * predicted language = argmax, ties broken by language name asc).
    */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "los", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  private def profileScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, tk => tk.isin(words.map(w => w: Any): _*)))

  /** t1: n-gram/stopword-profile language ID. The synthetic corpus
    * shares one vocabulary across `lang` labels, so predictions mostly
    * collapse to the dominant profile — the operator verifies the
    * scoring machinery; `is_match` reports agreement with the label.
    */
  def t1Langid(t: Tables): DataFrame = {
    val withToks = t.documents
      .select(col("doc_id"), col("lang"), Text.tokenize(col("text")).as("tk"))
    val scored = profiles.foldLeft(withToks) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang", profileScore(col("tk"), words))
    }
    val mx = greatest(profiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = profiles.foldLeft(when(lit(false), lit("")): Column) {
      case (acc, (l, _)) => acc.when(col(s"s_$l") === mx, lit(l))
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("score", mx)
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score"),
        (col("pred_lang") === col("lang")).cast("int").as("is_match"))
      .orderBy("doc_id")
  }

  /** Engine-portable 4-decimal rounding: floor(x·10⁴ + 0.5)/10⁴.
    * Spark's `round(double, 4)` HALF_UPs the SHORTEST decimal string
    * (BigDecimal.valueOf) while DuckDB rounds the true binary value,
    * so doubles landing on a .xxxx5 boundary split between engines;
    * this formula is pure IEEE arithmetic and identical in both.
    */
  private[operators] def roundP(c: Column): Column =
    floor(c * 10000 + 0.5) / 10000.0

  /** t2: composite quality score — length norm (0.4), lexical
    * diversity (0.3), stopword ratio (0.3); all ratios round(4).
    */
  def t2QualityScore(t: Tables): DataFrame = {
    val tk = Text.tokenize(col("text"))
    val en = profiles.toMap.apply("en")
    t.documents
      .select(col("doc_id"), length(col("text")).as("n_chars_t"), tk.as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .filter(col("n_tok") > 0)
      .withColumn("distinct_ratio",
        roundP(size(array_distinct(col("tk"))) / col("n_tok")))
      .withColumn("stop_ratio",
        roundP(profileScore(col("tk"), en) / col("n_tok")))
      .withColumn("q_score", roundP(
        lit(0.4) * least(col("n_chars_t") / 500.0, lit(1.0)) +
          lit(0.3) * (size(array_distinct(col("tk"))) / col("n_tok")) +
          lit(0.3) * (profileScore(col("tk"), en) / col("n_tok"))))
      .select("doc_id", "n_tok", "distinct_ratio", "stop_ratio", "q_score")
      .orderBy("doc_id")
  }

  /** t2's composite score alone, (doc_id, q_score), for consumers
    * that rank docs by quality (d13's keep-best dedup) — the same
    * expression tree as t2 so the two agree bit-for-bit. Token-less
    * docs drop out here (no ratios exist); callers coalesce.
    */
  private[graft] def qualityScoreFrom(docs: DataFrame): DataFrame = {
    val tk = Text.tokenize(col("text"))
    val en = profiles.toMap.apply("en")
    docs
      .select(col("doc_id"), length(col("text")).as("n_chars_t"), tk.as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), roundP(
        lit(0.4) * least(col("n_chars_t") / 500.0, lit(1.0)) +
          lit(0.3) * (size(array_distinct(col("tk"))) / col("n_tok")) +
          lit(0.3) * (profileScore(col("tk"), en) / col("n_tok")))
        .as("q_score"))
  }

  /** t3: token counts — whitespace tokens vs a BPE-ish lexer regex
    * (letter runs | digit runs | single non-alnum-non-space).
    */
  def t3TokenCount(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        size(filter(split(col("text"), " +"), x => length(x) > 0)).as("n_ws"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe"),
        length(col("text")).as("n_chars_t"))
      .orderBy("doc_id")

  /** t4: document fingerprint — minimum word-5-gram md5 (winnowing
    * with one global window; lexicographic string min is portable).
    */
  def t4Fingerprint(t: Tables): DataFrame =
    t.documents
      .withColumn("tk", Text.tokenize(col("text")))
      .select(col("doc_id"), Text.shinglesFast(5)(col("tk")).as("sh"))
      .withColumn("fingerprint",
        when(size(col("sh")) > 0,
          array_min(transform(col("sh"), s => md5(s)))))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  /** t5: PII/URL scrubbing — the standard training-data hygiene pass.
    * Synthesizes emails/URLs into the text deterministically (oracle
    * constructs the same), then redacts with shared-regex replaces and
    * reports per-doc hit counts. Pure projection.
    */
  def t5PiiScrub(t: Tables): DataFrame = {
    val dirty = when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com now")))
      .otherwise(concat(col("text"), lit(" see https://docs.example.com/p/"),
        col("doc_id"), lit("?ref=x for details")))
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val urlRe = "https?://[^ ]+"
    t.documents
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(urlRe), lit(0)))
          .as("n_urls"),
        md5(regexp_replace(regexp_replace(col("dirty"), urlRe, "<URL>"),
          emailRe, "<EMAIL>")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** t6: SEQUENCE PACKING — the concat-and-chunk step a pretraining
    * pipeline runs last: documents are concatenated in id order within
    * each source shard and split into fixed token-budget packs; a doc
    * may straddle a pack boundary. Reports, per doc, its token span
    * and the first/last pack it lands in.
    *
    * Scale shape: ONE window shuffle partitioned by source (= shard).
    * Real pipelines pack per shard exactly so the running sum never
    * needs a global order — the per-source cumulative sum is the
    * whole computation, embarrassingly parallel across shards. A
    * global (unsharded) pack order would serialize 100 TB through one
    * partition and is deliberately not offered.
    */
  def t6SequencePack(t: Tables, budget: Int = 128): DataFrame =
    sequencePackFrom(t.documents, budget)

  /** DataFrame form of t6 (facade + scale probe): any
    * (doc_id, source, text) frame in.
    */
  private[graft] def sequencePackFrom(docsIn: DataFrame,
      budget: Int, sorted: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val out = docsIn
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " +"), x => length(x) > 0))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("cum", sum("n_tok").over(w))
      .select(col("source"), col("doc_id"), col("n_tok"),
        (col("cum") - col("n_tok")).as("tok_start"),
        floor((col("cum") - col("n_tok")) / budget).cast("long").as("pack_first"),
        floor((col("cum") - 1) / budget).cast("long").as("pack_last"))
    if (sorted) out.orderBy("source", "doc_id") else out
  }

  /** t7: MIXTURE SAMPLING — deterministic per-source Bernoulli
    * sampling, the mechanism behind corpus mixture weights ("keep 20%
    * of crawl, 80% of reference"). The keep decision is a pure hash
    * of the doc id (u = first-8-md5-hex / 2³² < rate), so the sample
    * is reproducible run-to-run, engine-to-engine, and under any
    * partitioning — unlike `df.sample`, whose seed is partition-
    * dependent. Rates ride in as a broadcast weights dimension (here
    * derived from the source name; production passes its mixture
    * config table). Pure projection + broadcast join: no shuffle.
    */
  def t7MixtureSample(t: Tables): DataFrame = {
    val weights = t.documents.select("source").distinct()
      .withColumn("rate",
        (substring(col("source"), 4, 10).cast("int") % 4 + 1) * lit(0.2))
    graft.api.Graft.mixtureSample(
        t.documents.select("doc_id", "source"), "doc_id", "source", weights)
      .select("doc_id", "source", "rate", "u")
      .orderBy("doc_id")
  }

  /** t8: REPETITION QUALITY STATS (Gopher-style): fraction of the
    * doc's word-2-grams occupied by its most frequent 2-gram, and the
    * duplicate-2-gram fraction — the standard repetition filters for
    * generated/boilerplate text. Per-row array folds over one scan
    * (the doc is its own universe — no corpus state), so the operator
    * is a pure projection like t1–t5: no shuffle at any scale.
    */
  def t8Repetition(t: Tables): DataFrame =
    t.documents
      .withColumn("tk", Text.tokenize(col("text")))
      .filter(size(col("tk")) >= 2)
      // all 2-grams WITH multiplicity (materialized once — the counts
      // lambda references it per distinct gram), then distinct grams
      .withColumn("g2all",
        transform(sequence(lit(0), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(2)))))
      .withColumn("g2", array_distinct(col("g2all")))
      .withColumn("n2", size(col("g2all")).cast("long"))
      .withColumn("n2_distinct", size(col("g2")).cast("long"))
      .withColumn("top2",
        array_max(transform(col("g2"),
          s => size(filter(col("g2all"), x => x === s)))))
      .select(col("doc_id"), col("n2"), col("n2_distinct"),
        roundP(col("top2") / col("n2")).as("top2_frac"),
        roundP((col("n2") - col("n2_distinct")) / col("n2")).as("dup2_frac"))
      .orderBy("doc_id")

  /** t9: GOPHER-STYLE QUALITY FILTERS — the rule-based keep/drop gate
    * (Rae et al. 2021 §A1.1) every pretraining corpus runs before
    * anything expensive: word-count bounds [50, 10000], mean word
    * length in [3, 10], and a minimum of 2 distinct required stopwords
    * (the "symbol ratio" and "bullet line" rules need punctuation this
    * synthetic corpus lacks, so the three representative rules carry
    * the machinery). Emits each flag separately plus the conjunction —
    * production tunes thresholds per source, so per-rule attribution
    * is the useful output, not just the verdict. Pure per-row
    * projection over one scan: no shuffle at any scale, runs fused
    * with ingest.
    */
  def t9GopherFilters(t: Tables): DataFrame = {
    val en = profiles.toMap.apply("en")
    t.documents
      .select(col("doc_id"), Text.tokenize(col("text")).as("tk"))
      .withColumn("n_words", size(col("tk")))
      .filter(col("n_words") > 0)
      .withColumn("mean_wlen", roundP(
        aggregate(col("tk"), lit(0L), (acc, x) => acc + length(x))
          / col("n_words")))
      .withColumn("flag_wc",
        (col("n_words") >= 50 && col("n_words") <= 10000).cast("int"))
      .withColumn("flag_mwl",
        (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0).cast("int"))
      .withColumn("flag_stop",
        (size(array_intersect(col("tk"),
          array(en.map(lit): _*))) >= 2).cast("int"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen"),
        col("flag_wc"), col("flag_mwl"), col("flag_stop"),
        (col("flag_wc") * col("flag_mwl") * col("flag_stop")).as("keep"))
      .orderBy("doc_id")
  }

  /** t10: N-GRAM LM COUNT TABLE — the count statistics behind n-gram
    * language models, the machinery of perplexity-based quality
    * filtering and contamination scoring over pretraining corpora:
    * per-bigram corpus count, its left-unigram (context) count, and
    * the ML conditional p(w2|w1) = c(w1,w2)/c(w1); top-24 by count.
    *
    * Scale: ONE groupBy over the exploded bigram stream with map-side
    * partials (the only corpus-sized shuffle); the context-count table
    * derives from the bigram table itself (no second corpus pass).
    * The top-K cut is orderBy+limit = TakeOrderedAndProject —
    * per-partition heads merged on the driver, the distributed top-k
    * (a global row_number window would sort EVERY bigram type in one
    * partition; the ordering key (c_bi desc, w1, w2) is total, so the
    * selected set is identical). The context join runs AFTER the cut,
    * so its probe side is topK rows — AQE broadcasts the tiny side on
    * its own, and no vocab-scale frame carries a forced hint.
    */
  def t10BigramCounts(t: Tables, topK: Int = 24): DataFrame = {
    val c = t.documents
      .select(Text.tokenize(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => concat_ws(" ", slice(col("tk"), i + 1, lit(2))))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bi"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val u = c.groupBy("w1").agg(sum("c_bi").as("c_w1"))
    c.orderBy(col("c_bi").desc, col("w1"), col("w2")).limit(topK)
      .join(u, "w1")
      .select(col("w1"), col("w2"), col("c_bi"), col("c_w1"),
        (floor(col("c_bi") / col("c_w1") * 10000 + 0.5) / 10000.0)
          .as("p_ml"))
      .orderBy(col("c_bi").desc, col("w1"), col("w2"))
  }

  /** t11: TOKENIZER ENCODE — apply the induced vocabulary (r15's
    * ranking rule: top-`vocabSize` terms by (count desc, term), id =
    * rank, everything else UNK=0) to re-encode every document as its
    * token-id sequence: the text→ids step that feeds sequence packing
    * (t6) in a real pretraining pipeline. Output per doc: token/UNK
    * counts + md5 of the comma-joined id sequence (the ids column
    * itself at production; hashed here to keep the dump small).
    *
    * Scale: vocab build is one map-side-partial groupBy(term) +
    * a DISTRIBUTED top-K cut (r15's TakeOrderedAndProject shape — the
    * full distinct-term table NEVER sorts through one task; id =
    * row_number runs on the ≤ vocabSize survivors only); the ENCODE
    * is then a BROADCAST join (vocab ≪ corpus — MBs at 100 TB), so
    * the corpus pays no shuffle until the per-doc rollup.
    */
  def t11TokenizerEncode(t: Tables, vocabSize: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.Caches.fresh()
    val toks = graft.Caches.cached(t.documents
      .select(col("doc_id"),
        posexplode(Text.tokenize(col("text"))).as(Seq("pos", "term"))))
    // Same ranking rule as before ((n_occ desc, term) is a total order,
    // term unique post-groupBy), but cut with TakeOrdered FIRST so the
    // id window sees vocabSize rows, not the corpus vocabulary.
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("term")).limit(vocabSize)
      .withColumn("id", row_number().over(
        Window.orderBy(col("n_occ").desc, col("term"))))
      .select("term", "id")
    toks.join(broadcast(vocab), Seq("term"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum((col("tid") === 0).cast("long")).as("n_unk"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tid")))),
          s => s.getField("tid").cast("string")), ",")).as("ids_md5"))
      .orderBy("doc_id")
  }

  /** t12: SPAN CORRUPTION (T5/UL2 denoising prep): mask ~25% of each
    * document in contiguous 3-token spans, each masked span replaced
    * by ONE sentinel token — the corruption pass that turns a clean
    * corpus into denoising training pairs. Span selection is a pure
    * HASH of (doc_id, block) — deterministic across runs, engines,
    * and partitionings (the same rule as t7's sampling: never
    * partition-seeded RNG), and block-aligned so spans never overlap
    * without any sequential dependence. Output per doc: token/masked/
    * span counts + md5 of the corrupted sequence.
    *
    * Scale: pure per-row projection (array fold over one scan), no
    * shuffle at any size — corruption runs fused with the reader.
    */
  def t12SpanCorruption(t: Tables, span: Int = 3): DataFrame = {
    val tk = Text.tokenize(col("text"))
    t.documents
      .select(col("doc_id"), tk.as("tk"))
      .withColumn("n_tok", size(col("tk")))
      .filter(col("n_tok") > 0)
      // block b masked iff first md5 hex digit of (doc, b) < '4' (25%)
      .withColumn("blocks", transform(
        sequence(lit(0), floor((col("n_tok") - 1) / span).cast("int")),
        b => struct(
          substring(md5(concat(lit("span:"), col("doc_id"), lit(":"), b)),
            1, 1).isin("0", "1", "2", "3").as("m"),
          slice(col("tk"), b * span + 1, lit(span)).as("blk"))))
      .withColumn("corrupted", flatten(transform(col("blocks"),
        s => when(s.getField("m"), array(lit("<extra>")))
          .otherwise(s.getField("blk")))))
      .withColumn("n_spans",
        size(filter(col("blocks"), s => s.getField("m"))))
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        (col("n_tok") - size(col("corrupted")) + col("n_spans"))
          .cast("long").as("n_masked"),
        col("n_spans").cast("long").as("n_spans"),
        md5(array_join(col("corrupted"), " ")).as("corrupt_md5"))
      .orderBy("doc_id")
  }

  /** t13: PERPLEXITY QUALITY SCORE — score every document under the
    * corpus's OWN bigram LM (t10's statistics, add-one smoothed at
    * scoring time): per-doc mean negative log-likelihood and
    * perplexity, plus the keep flag of the standard perplexity filter
    * (keep iff ppl ≤ corpus p75). This is the second half of
    * perplexity-based quality filtering — t10 builds the counts, t13
    * applies them back to the corpus.
    *
    * Scale: the LM/context tables are OBSERVED-bigram/-unigram scale —
    * small for a domain corpus but corpus-vocabulary-scale for open web
    * text, so neither join side carries a forced broadcast hint: AQE
    * broadcasts them while they fit `autoBroadcastJoinThreshold` and
    * degrades to a shuffle join (never a driver OOM) when they don't.
    * `minCount` is the KenLM-style model prune for that regime: keep
    * only bigrams seen ≥ minCount times (context counts and the
    * smoothing denominator stay exact, computed pre-prune), and score
    * each doc over its in-LM bigrams — a Zipf tail cut that shrinks
    * the LM orders of magnitude at web scale. Default 1 = no prune =
    * the oracle-gated exact semantics. The corpus pays no shuffle
    * until the per-doc rollup (map-side-partial groupBy(doc_id)); the
    * p75 cut runs on the DOC-level aggregate (rows = docs, not
    * tokens) and broadcasts back as one row.
    * Portability: roundP lands after averaging ≤1-ulp libm ln errors
    * (≈1e-11 absolute), far inside the 1e-4 grid; the p75 compare
    * uses percentile ≡ quantile_cont (the q14-proven identity).
    */
  def t13Perplexity(t: Tables): DataFrame = {
    // public operator entry: open a fresh cache scope even on the
    // warm staged path, so the previous operator's storage is
    // released here exactly as the pre-staging entry did
    graft.Caches.fresh()
    pplKeepCut(pplScoredStaged(t)).orderBy("doc_id")
  }

  /** Corpus-keyed staged copy of the doc-level perplexity frame —
    * the LM build + token-scale scoring join is the pipeline's
    * expensive artifact, and BOTH its consumers (t13's p75 keep cut,
    * t16's CCNet tertiles) are corpus-constant compares over the
    * doc-level rows: pay the join ONCE per corpus snapshot, land
    * (doc_id, n_bg, avg_nll, ppl), and serve every downstream cut
    * from the landed frame (tfStaged / ccLabelsStaged's contract;
    * doubles round-trip parquet exactly, so staged = fresh
    * bit-for-bit).
    */
  private[graft] def pplScoredStaged(t: Tables): DataFrame = {
    val dir = graft.Staging.dir(s"${t.dir}:pplscored", "ppl") { d =>
      perplexityScored(t.documents, "doc_id", "text")
        .write.mode("overwrite").parquet(d)
    }
    t.spark.read.parquet(dir)
  }

  /** t13's p75 keep flag over a scored frame (shared by the fresh
    * and staged paths).
    */
  private def pplKeepCut(scored: DataFrame): DataFrame = {
    val cut = scored.agg(expr("percentile(ppl, 0.75)").as("p75"))
    scored.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_bg"), col("avg_nll"), col("ppl"),
        (col("ppl") <= col("p75")).cast("int").as("keep"))
  }

  /** DataFrame-form core of t13 over any (idCol, textCol) frame —
    * the `Graft.perplexityScore` facade entry. `minCount` > 1 prunes
    * the bigram LM to counts ≥ minCount before scoring (docs whose
    * every bigram is pruned have no in-LM evidence and drop out).
    */
  private[graft] def perplexityFrom(docsIn: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L,
      sorted: Boolean = true): DataFrame = {
    val out = pplKeepCut(perplexityScored(docsIn, idCol, textCol, minCount))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** The per-doc perplexity frame (doc_id, n_bg, avg_nll, ppl) both
    * t13's p75 keep-cut and t16's CCNet tertile buckets consume —
    * materialized, so each caller's corpus-wide cut runs on the
    * doc-level aggregate without re-running the token-scale LM join.
    */
  private[graft] def perplexityScored(docsIn: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L): DataFrame = {
    graft.Caches.fresh()
    // materialized, not cached: the bigram stream feeds the LM build
    // AND the scoring scan concurrently — the lazy-cache broadcast
    // race Caches.materialized exists for. Cached PRE-PARTITIONED by
    // bg: the cached layout satisfies both the stats groupBy's
    // distribution and the scoring join's, so the token-scale stream
    // shuffles ONCE here instead of once per consumer (the win that
    // matters in the shuffle-join regime, where lm is too big for
    // AQE to broadcast).
    // the corpus vocabulary size (the smoothing denominator) is a
    // SECOND full tokenize scan of the corpus, independent of the
    // bigram chain — run it as a concurrent job while the bigram
    // stream materializes (guide §2.6) instead of serializing the two
    // corpus scans, and fold the one resulting number in as a literal
    // (same value, one broadcast-join job fewer in the scoring plan).
    val Seq(vocabA, docsBgA) = graft.Concurrent.settleAll[Any](docsIn.sparkSession)(Seq(
      "t13: vocabulary" -> (() =>
        docsIn
          .select(explode(Text.tokenize(col(textCol))).as("term"))
          .agg(countDistinct("term").as("v"))
          .collect()(0).getLong(0)),
      "t13: bigram stream" -> (() =>
        graft.Caches.materialized(
          docsIn
            .select(col(idCol).as("doc_id"), Text.tokenize(col(textCol)).as("tk"))
            .filter(size(col("tk")) >= 2)
            .select(col("doc_id"),
              explode(transform(sequence(lit(0), size(col("tk")) - 2),
                i => concat_ws(" ", slice(col("tk"), i + 1, lit(2))))).as("bg"))
            .repartition(col("bg"))))))
    val docsBg = docsBgA.asInstanceOf[DataFrame]
    val stats = docsBg.groupBy("bg").agg(count(lit(1)).as("c_bi"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val ctx = stats.groupBy("w1").agg(sum("c_bi").as("c_w1"))
    // prune AFTER ctx: context counts (and the smoothing denominator
    // below) are statistics of the full corpus, not the pruned model
    val kept = if (minCount > 1L) stats.filter(col("c_bi") >= minCount)
               else stats
    // no broadcast hints: both sides grow with corpus vocabulary, so a
    // forced broadcast is a driver OOM at web scale — AQE converts to
    // broadcast-hash at runtime whenever the built side is actually
    // small, and falls back to a shuffle join when it is not
    val lm = kept.join(ctx, "w1").select("bg", "c_bi", "c_w1")
    val vocabN = vocabA.asInstanceOf[Long]
    // doc-scale (one row per doc) but the product of the pipeline's
    // expensive join — materialized so the p75 cut and the final
    // select don't each re-run the token-scale join+rollup
    graft.Caches.materialized(docsBg
      .join(lm, "bg")
      .withColumn("nll",
        -log((col("c_bi") + 1).cast("double") / (col("c_w1") + lit(vocabN))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), avg("nll").as("raw"))
      .withColumn("avg_nll", roundP(col("raw")))
      .withColumn("ppl", roundP(exp(col("raw"))))
      .select("doc_id", "n_bg", "avg_nll", "ppl"))
  }

  /** t16: CCNET PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.3) — the
    * standard corpus partitioning by LM perplexity: docs sort into
    * `head` / `middle` / `tail` thirds (low perplexity = closest to
    * the LM's training distribution = `head`), the knob pretraining
    * recipes use to up-sample the head and drop or down-weight the
    * tail. Buckets come from exact tertile CUTS, not NTILE: the two
    * cut points are a one-row aggregate over the doc-level frame,
    * broadcast back, and assignment is a pure projection — no global
    * sort, no unpartitioned window, the same corpus-constant-compare
    * shape as t13's p75 keep flag (and the same percentile ≡
    * quantile_cont portability, proven there).
    */
  def t16CcnetBuckets(t: Tables): DataFrame = {
    graft.Caches.fresh()
    pplTertiles(pplScoredStaged(t)).orderBy("doc_id")
  }

  /** DataFrame form of t16 (facade entry). */
  private[graft] def ccnetBucketsFrom(docsIn: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L,
      sorted: Boolean = true): DataFrame = {
    val out = pplTertiles(perplexityScored(docsIn, idCol, textCol, minCount))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** t16's tertile bucketing over a scored frame (shared by the
    * fresh and staged paths).
    */
  private def pplTertiles(scored: DataFrame): DataFrame = {
    val cuts = scored.agg(
      expr("percentile(ppl, 1.0/3)").as("c1"),
      expr("percentile(ppl, 2.0/3)").as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("ppl"),
        when(col("ppl") <= col("c1"), "head")
          .when(col("ppl") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** t17: MIXTURE WEIGHTS under a token budget — temperature-scaled
    * sampling weights per `source` (w_s ∝ n_tok_s^α, α=0.5 — the
    * multilingual/multi-domain up-sampling standard, Conneau &
    * Lample 2019), allocated against a target budget of
    * `targetFrac` × corpus tokens with a per-source repetition cap of
    * `maxEpochs` epochs. This is the planning half of t7's mixture
    * SAMPLER: t17 computes the per-source rates a budget implies;
    * t7 executes rates row-by-row.
    *
    * Scale: one token-count projection + a partial-agg groupBy(source)
    * down to domain-level rows, then a broadcast 1-row total — no
    * window, no second corpus pass. Portability: weights derive from
    * INTEGER-valued doubles (w_int = floor(√n_tok·10⁶), summed as
    * longs) so every engine computes the identical ratios — no
    * float-accumulation-order hazard in the denominator.
    */
  def t17MixtureWeights(t: Tables, targetFrac: Double = 0.5,
      maxEpochs: Double = 4.0): DataFrame =
    mixtureWeightsFrom(t.documents, "source", "text", targetFrac,
      maxEpochs)

  /** DataFrame form of t17 (facade entry). */
  private[graft] def mixtureWeightsFrom(docsIn: DataFrame,
      sourceCol: String, textCol: String, targetFrac: Double = 0.5,
      maxEpochs: Double = 4.0): DataFrame = {
    // α = 0.5 computed as sqrt, NOT pow(·, 0.5): IEEE 754 pins sqrt
    // to correctly-rounded (identical everywhere); pow is allowed
    // 1-ulp slack and engines' intrinsics differ
    val per = docsIn
      .select(col(sourceCol).as("source"),
        size(Text.tokenize(col(textCol))).cast("long").as("d_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("d_tok").as("n_tok"))
      .withColumn("w_int",
        floor(sqrt(col("n_tok").cast("double")) * 1000000L)
          .cast("long"))
    val tot = per.agg(sum("n_tok").as("tot_tok"), sum("w_int").as("w_sum"))
    per.crossJoin(broadcast(tot))
      .withColumn("target", floor(col("tot_tok") * targetFrac))
      .withColumn("weight", floor(col("w_int") / col("w_sum")
        * 1000000 + 0.5) / 1000000.0)
      .withColumn("alloc_tok",
        floor(least(col("target") * col("w_int") / col("w_sum"),
          col("n_tok") * maxEpochs)).cast("long"))
      .withColumn("epochs", roundP(col("alloc_tok") / col("n_tok")))
      .select("source", "n_docs", "n_tok", "weight", "alloc_tok", "epochs")
      .orderBy("source")
  }

  /** t15: DETERMINISTIC SHUFFLE-SHARD — the last step of every
    * training-data pipeline: assign each document a seeded
    * pseudo-random sort key (md5 of `doc_id:seed`), hash the key into
    * `nShards` shards, and number documents within each shard in key
    * order. The output (doc_id, shard, pos) IS the training data
    * order: data loaders read shard files sequentially and the global
    * order is a reproducible uniform shuffle — rerunning the pipeline
    * (or re-sharding after a failure) yields bit-identical placement,
    * unlike `rand()`-based shuffles whose order changes with task
    * retries and partition counts.
    *
    * Scale: NO global sort and no unpartitioned window — the shard
    * assignment is a pure projection, and the only shuffle is the
    * `partitionBy(shard)` exchange of the position window, each shard
    * sorting independently (at 100 TB pick nShards so a shard ≈ a few
    * GB: nShards = corpus_bytes / shard_bytes, the stateBucketsFor
    * pattern). The md5 key is uniform, so shards are balanced within
    * √n noise regardless of doc_id clustering; `pos` is dense and
    * 1-based within each shard, so (shard, pos) is a stable global
    * address for curriculum slicing and mid-epoch resume.
    */
  def t15ShuffleShard(t: Tables, nShards: Int = 8,
      seed: Int = 7): DataFrame =
    shuffleShardFrom(t.documents, "doc_id", nShards, seed)

  /** DataFrame-form core of t15 over any id column (facade entry). */
  private[graft] def shuffleShardFrom(docsIn: DataFrame, idCol: String,
      nShards: Int = 8, seed: Int = 7,
      sorted: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 60-bit key prefix (15 hex chars) keeps conv() inside signed-long
    // range; the shard is the key's low-order residue, so shard and
    // in-shard order both derive from the ONE md5 — no second hash
    val out = docsIn
      .select(col(idCol).as("doc_id"),
        md5(concat_ws(":", col(idCol), lit(seed))).as("rk"))
      .withColumn("shard",
        pmod(conv(substring(col("rk"), 1, 15), 16, 10).cast("long"),
          lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("rk", "doc_id")))
      .select(col("doc_id"), col("shard"), col("pos"))
    if (sorted) out.orderBy("shard", "pos") else out
  }

  /** t18: DSIR DATA SELECTION (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — rank the raw pool
    * by how TARGET-LIKE each document's unigram distribution is:
    * score(doc) = Σ_w c_w(doc) · [ln p̂_tgt(w) − ln p̂_raw(w)] with
    * Laplace-smoothed (+1 over the shared corpus vocabulary) unigram
    * models estimated from the target slice (`lang = 'en'` here —
    * "select non-English docs that read most like the English
    * distribution" is the cross-lingual transfer shape, but any
    * predicate works) and from the whole raw corpus. The top-`topN`
    * non-target docs by (rounded score, doc_id) are the selection a
    * mixture recipe (t17 → t7) would up-sample.
    *
    * Scale: two vocabulary-sized model frames (term → count, map-side
    * partial aggregates) joined onto the per-(doc, term) counts with
    * NO broadcast hints — vocabulary grows with the corpus, so AQE
    * must own the join strategy (t13's LM-join contract); the totals
    * ride as a broadcast 1-row aggregate; scoring is one
    * groupBy(doc_id) and the selection a TakeOrdered top-N, never a
    * global sort. DSIR at web scale hashes features into a fixed-
    * width table — the exact-unigram form here is the same plan with
    * `term` already bucketed.
    */
  def t18DsirSelect(t: Tables, targetLang: String = "en",
      topN: Int = 100): DataFrame =
    dsirSelectFrom(t.documents, "doc_id", "lang", "text", targetLang, topN)

  /** DataFrame-form core of t18 over any (idCol, grpCol, textCol)
    * frame — the `Graft.dsirSelect` facade entry. `target` names the
    * grpCol value whose docs define the target distribution.
    */
  private[graft] def dsirSelectFrom(docsIn: DataFrame, idCol: String,
      grpCol: String, textCol: String, target: String,
      topN: Int = 100): DataFrame = {
    graft.Caches.fresh()
    val toks = graft.Caches.materialized(
      docsIn.select(col(idCol).as("doc_id"), col(grpCol).as("grp"),
        explode(Text.tokenize(col(textCol))).as("term")))
    val raw = toks.groupBy("term").agg(count(lit(1)).as("c_r"))
    val tgt = toks.filter(col("grp") === target)
      .groupBy("term").agg(count(lit(1)).as("c_t"))
    val totals = toks.agg(
      count(lit(1)).as("n_r"),
      sum(when(col("grp") === target, 1L).otherwise(0L)).as("n_t"),
      countDistinct("term").as("v"))
    toks.filter(col("grp") =!= target)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .join(raw, "term")
      .join(tgt, Seq("term"), "left")
      .na.fill(0L, Seq("c_t"))
      .crossJoin(broadcast(totals))
      .withColumn("contrib", col("c") *
        (log((col("c_t") + 1).cast("double") / (col("n_t") + col("v"))) -
         log((col("c_r") + 1).cast("double") / (col("n_r") + col("v")))))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"), sum("contrib").as("raw_score"))
      .select(col("doc_id"), col("n_tok"),
        roundP(col("raw_score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  private val tokCte =
    """tt AS (
      |  SELECT doc_id, lang, length(text) AS n_chars_t,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS tk
      |  FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    // seeded-md5 shard assignment + in-shard key order, replayed with
    // the same 15-hex-char key prefix ('0x'||hex)::UBIGINT ≡ conv(,16,10)
    "t15_shuffle_shard" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':7') AS rk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, rk,
        |    CAST(('0x' || substring(rk, 1, 15))::UBIGINT % 8 AS BIGINT) AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    // bigram-LM replay: add-one smoothed nll per bigram instance,
    // per-doc average, roundP, p75 cut via quantile_cont ≡ percentile
    // t13's scored frame replayed (same CTE chain), bucketed by the
    // exact tertile cuts (quantile_cont ≡ Spark percentile — the
    // q14/t13-proven identity) instead of the p75 keep flag
    "t16_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(tk[i:i+1], ' ')
        |            FOR i IN range(1, len(tk))]) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |c AS (SELECT bg, count(*) AS c_bi FROM bg GROUP BY bg),
        |cw AS (SELECT string_split(bg, ' ')[1] AS w1,
        |         CAST(sum(c_bi) AS BIGINT) AS c_w1
        |       FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT u) AS v
        |      FROM (SELECT unnest(tk) AS u FROM toks)),
        |sc AS (
        |  SELECT b.doc_id,
        |    -ln(CAST(c.c_bi + 1 AS DOUBLE) / CAST(w.c_w1 + v.v AS DOUBLE))
        |      AS nll
        |  FROM bg b JOIN c ON b.bg = c.bg
        |  JOIN cw w ON string_split(b.bg, ' ')[1] = w.w1
        |  CROSS JOIN v),
        |d AS (SELECT doc_id, avg(nll) AS raw FROM sc GROUP BY doc_id),
        |p AS (SELECT doc_id,
        |        floor(exp(raw) * 10000 + 0.5) / 10000.0 AS ppl
        |      FROM d),
        |cut AS (SELECT quantile_cont(ppl, 1.0/3) AS c1,
        |               quantile_cont(ppl, 2.0/3) AS c2 FROM p)
        |SELECT doc_id, ppl,
        |  CASE WHEN ppl <= c1 THEN 'head'
        |       WHEN ppl <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM p CROSS JOIN cut ORDER BY doc_id""".stripMargin,
    // integer-valued weight numerators (floor(√n_tok·10⁶) summed as
    // BIGINT) make every ratio a division of exactly-representable
    // integers — identical doubles in any IEEE engine
    "t18_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS term
        |  FROM documents),
        |raw AS (SELECT term, count(*) AS c_r FROM toks GROUP BY term),
        |tgt AS (SELECT term, count(*) AS c_t FROM toks
        |        WHERE lang = 'en' GROUP BY term),
        |tot AS (SELECT count(*) AS n_r,
        |               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t,
        |               count(DISTINCT term) AS v
        |        FROM toks),
        |dt AS (SELECT doc_id, term, count(*) AS c FROM toks
        |       WHERE lang <> 'en' GROUP BY doc_id, term),
        |s AS (
        |  SELECT dt.doc_id, sum(dt.c) AS n_tok,
        |    sum(dt.c * (ln(CAST(coalesce(tg.c_t, 0) + 1 AS DOUBLE) / (tot.n_t + tot.v)) -
        |                ln(CAST(r.c_r + 1 AS DOUBLE) / (tot.n_r + tot.v)))) AS raw_score
        |  FROM dt JOIN raw r USING (term) LEFT JOIN tgt tg USING (term), tot
        |  GROUP BY dt.doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  floor(raw_score * 10000 + 0.5) / 10000.0 AS score
        |FROM s ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    "t17_mixture_weights" ->
      """WITH tt AS (
        |  SELECT source,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                    x -> x <> '')) AS d_tok
        |  FROM documents),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(d_tok) AS BIGINT) AS n_tok,
        |    CAST(floor(sqrt(CAST(sum(d_tok) AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS w_int
        |  FROM tt GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
        |               CAST(sum(w_int) AS BIGINT) AS w_sum FROM per)
        |SELECT source, n_docs, n_tok,
        |  floor(w_int / w_sum * 1000000 + 0.5) / 1000000.0 AS weight,
        |  CAST(floor(least(floor(tot_tok * 0.5) * w_int / w_sum,
        |                   n_tok * 4.0)) AS BIGINT) AS alloc_tok,
        |  floor(CAST(floor(least(floor(tot_tok * 0.5) * w_int / w_sum,
        |                         n_tok * 4.0)) AS BIGINT) / n_tok
        |        * 10000 + 0.5) / 10000.0 AS epochs
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    "t13_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(tk[i:i+1], ' ')
        |            FOR i IN range(1, len(tk))]) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |c AS (SELECT bg, count(*) AS c_bi FROM bg GROUP BY bg),
        |cw AS (SELECT string_split(bg, ' ')[1] AS w1,
        |         CAST(sum(c_bi) AS BIGINT) AS c_w1
        |       FROM c GROUP BY 1),
        |v AS (SELECT count(DISTINCT u) AS v
        |      FROM (SELECT unnest(tk) AS u FROM toks)),
        |sc AS (
        |  SELECT b.doc_id,
        |    -ln(CAST(c.c_bi + 1 AS DOUBLE) / CAST(w.c_w1 + v.v AS DOUBLE))
        |      AS nll
        |  FROM bg b JOIN c ON b.bg = c.bg
        |  JOIN cw w ON string_split(b.bg, ' ')[1] = w.w1
        |  CROSS JOIN v),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
        |        avg(nll) AS raw
        |      FROM sc GROUP BY doc_id),
        |p AS (SELECT doc_id, n_bg,
        |        floor(raw * 10000 + 0.5) / 10000.0 AS avg_nll,
        |        floor(exp(raw) * 10000 + 0.5) / 10000.0 AS ppl
        |      FROM d),
        |cut AS (SELECT quantile_cont(ppl, 0.75) AS p75 FROM p)
        |SELECT doc_id, n_bg, avg_nll, ppl,
        |  CAST(ppl <= p75 AS INT) AS keep
        |FROM p CROSS JOIN cut ORDER BY doc_id""".stripMargin,
    // block-hash mask replay: 25% of 3-token blocks → one sentinel;
    // counts derived the same way (n_masked = n_tok - |corr| + spans)
    "t12_span_corruption" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, len(tk) AS n_tok,
        |    [CASE WHEN substring(md5('span:' || doc_id || ':' || b), 1, 1)
        |            IN ('0','1','2','3')
        |          THEN ['<extra>']
        |          ELSE tk[CAST(b AS INT)*3+1 : CAST(b AS INT)*3+3] END
        |     FOR b IN range(0, CAST((len(tk)-1)//3 AS BIGINT) + 1)] AS cb,
        |    [1 FOR b IN range(0, CAST((len(tk)-1)//3 AS BIGINT) + 1)
        |       IF substring(md5('span:' || doc_id || ':' || b), 1, 1)
        |          IN ('0','1','2','3')] AS ms
        |  FROM toks WHERE len(tk) > 0),
        |f AS (
        |  SELECT doc_id, n_tok, flatten(cb) AS corrupted,
        |    len(ms) AS n_spans
        |  FROM b)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_tok - len(corrupted) + n_spans AS BIGINT) AS n_masked,
        |  CAST(n_spans AS BIGINT) AS n_spans,
        |  md5(array_to_string(corrupted, ' ')) AS corrupt_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    // vocab ranking replayed (r15's rule), encode via left join,
    // ordered id concat under md5; BIGINT casts on the sums
    "t11_tokenizer_encode" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest([{pos: CAST(i AS INT) - 1, term: tk[CAST(i AS INT)]}
        |            FOR i IN range(1, len(tk) + 1)], recursive := true)
        |  FROM toks),
        |c AS (SELECT term, count(*) AS n_occ FROM e GROUP BY term),
        |v AS (
        |  SELECT term, id FROM (
        |    SELECT term,
        |      row_number() OVER (ORDER BY n_occ DESC, term) AS id
        |    FROM c) WHERE id <= 16),
        |j AS (
        |  SELECT e.doc_id, e.pos, coalesce(v.id, 0) AS tid
        |  FROM e LEFT JOIN v ON v.term = e.term)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram + context counts with the BIGINT casts; ML conditional
    // under the portable floor rounding; same tie-break total order
    "t10_bigram_counts" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT [array_to_string(tk[i:i+1], ' ')
        |          FOR i IN range(1, len(tk))] AS g2all
        |  FROM toks WHERE len(tk) >= 2),
        |e AS (SELECT unnest(g2all) AS bg FROM g),
        |c AS (SELECT bg, count(*) AS c_bi FROM e GROUP BY bg),
        |sp AS (
        |  SELECT string_split(bg, ' ')[1] AS w1,
        |         string_split(bg, ' ')[2] AS w2, c_bi
        |  FROM c),
        |u AS (SELECT w1, CAST(sum(c_bi) AS BIGINT) AS c_w1
        |      FROM sp GROUP BY w1),
        |r AS (
        |  SELECT w1, w2, c_bi, c_w1,
        |    row_number() OVER (ORDER BY c_bi DESC, w1, w2) AS rnk
        |  FROM sp JOIN u USING (w1))
        |SELECT w1, w2, c_bi, c_w1,
        |  floor((c_bi * 1.0 / c_w1) * 10000 + 0.5) / 10000.0 AS p_ml
        |FROM r WHERE rnk <= 24 ORDER BY c_bi DESC, w1, w2""".stripMargin,
    "t9_gopher_filters" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(tk) AS n_words,
        |    floor((list_sum([length(x) FOR x IN tk]) * 1.0 / len(tk))
        |      * 10000 + 0.5) / 10000.0 AS mean_wlen,
        |    len(list_intersect(list_distinct(tk),
        |        ['the','a','of','and','is'])) AS n_stop
        |  FROM toks WHERE len(tk) > 0),
        |f AS (
        |  SELECT doc_id, n_words, mean_wlen,
        |    CASE WHEN n_words BETWEEN 50 AND 10000 THEN 1 ELSE 0 END AS flag_wc,
        |    CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1 ELSE 0 END AS flag_mwl,
        |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS flag_stop
        |  FROM m)
        |SELECT doc_id, n_words, mean_wlen, flag_wc, flag_mwl, flag_stop,
        |  flag_wc * flag_mwl * flag_stop AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "t6_sequence_pack" ->
      """WITH c AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS n_tok
        |  FROM documents),
        |w AS (
        |  SELECT source, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM c WHERE n_tok > 0)
        |SELECT source, doc_id, n_tok, cum - n_tok AS tok_start,
        |  (cum - n_tok) // 128 AS pack_first,
        |  (cum - 1) // 128 AS pack_last
        |FROM w ORDER BY source, doc_id""".stripMargin,
    // hex→int horner matches the proven minhash-oracle construction;
    // 0.2 must be CAST to DOUBLE (a bare 0.2 literal is DECIMAL in
    // DuckDB and int*decimal diverges from Spark's double arithmetic)
    "t7_mixture_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    (CAST(substring(source, 4, 10) AS INT) % 4 + 1)
        |      * CAST(0.2 AS DOUBLE) AS rate,
        |    md5('mix:' || doc_id) AS m
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, source, rate,
        |    list_sum([CAST((CASE WHEN ascii(substring(m, CAST(j AS INT), 1)) >= 97
        |               THEN ascii(substring(m, CAST(j AS INT), 1)) - 87
        |               ELSE ascii(substring(m, CAST(j AS INT), 1)) - 48 END) AS BIGINT)
        |              * CAST(power(16, 8 - j) AS BIGINT) FOR j IN range(1, 9)])
        |      / 4294967296.0 AS u
        |  FROM w)
        |SELECT doc_id, source, rate, u FROM h WHERE u < rate
        |ORDER BY doc_id""".stripMargin,
    "t8_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    [array_to_string(tk[i:i+1], ' ') FOR i IN range(1, len(tk))] AS g2all
        |  FROM toks WHERE len(tk) >= 2),
        |c AS (
        |  SELECT doc_id, len(g2all) AS n2,
        |    len(list_distinct(g2all)) AS n2_distinct,
        |    list_max([len(list_filter(g2all, x -> x = s))
        |              FOR s IN list_distinct(g2all)]) AS top2
        |  FROM g)
        |SELECT doc_id, n2, n2_distinct,
        |  floor((top2 / n2) * 10000 + 0.5) / 10000.0 AS top2_frac,
        |  floor(((n2 - n2_distinct) / n2) * 10000 + 0.5) / 10000.0 AS dup2_frac
        |FROM c ORDER BY doc_id""".stripMargin,
    "t1_langid" ->
      s"""WITH $tokCte,
         |s AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS s_de,
         |    len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS s_en,
         |    len(list_filter(tk, x -> x IN ('el','la','de','los','y'))) AS s_es,
         |    len(list_filter(tk, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |    len(list_filter(tk, x -> x IN ('de','le','shi','bu','wo'))) AS s_zh
         |  FROM tt),
         |p AS (
         |  SELECT doc_id, lang,
         |    greatest(s_de, s_en, s_es, s_fr, s_zh) AS score,
         |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |         ELSE 'zh' END AS pred_lang
         |  FROM s)
         |SELECT doc_id, lang, pred_lang, score,
         |  CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS is_match
         |FROM p ORDER BY doc_id""".stripMargin,
    "t2_quality_score" ->
      s"""WITH $tokCte,
         |q AS (
         |  SELECT doc_id, len(tk) AS n_tok,
         |    len(list_distinct(tk)) AS n_dis,
         |    len(list_filter(tk, x -> x IN ('the','a','of','and','is'))) AS n_stop,
         |    n_chars_t
         |  FROM tt WHERE len(tk) > 0)
         |SELECT doc_id, n_tok,
         |  floor((n_dis / n_tok) * 10000 + 0.5) / 10000.0 AS distinct_ratio,
         |  floor((n_stop / n_tok) * 10000 + 0.5) / 10000.0 AS stop_ratio,
         |  floor((0.4 * least(n_chars_t / 500.0, 1.0) +
         |         0.3 * (n_dis / n_tok) + 0.3 * (n_stop / n_tok)) * 10000 + 0.5)
         |    / 10000.0 AS q_score
         |FROM q ORDER BY doc_id""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS n_ws,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
        |  length(text) AS n_chars_t
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_pii_scrub" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN text || ' contact user' || doc_id || '@example.com now'
        |      ELSE text || ' see https://docs.example.com/p/' || doc_id || '?ref=x for details'
        |    END AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(dirty, 'https?://[^ ]+')) AS n_urls,
        |  md5(regexp_replace(regexp_replace(dirty, 'https?://[^ ]+', '<URL>', 'g'),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g')) AS clean_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
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
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(sh) > 0 THEN list_min([md5(s) FOR s IN sh]) END AS fingerprint
        |FROM shl ORDER BY doc_id""".stripMargin
  )
}
