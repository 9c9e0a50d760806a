package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The public DataFrame-first facade works on ad-hoc frames (no
  * dependency on the benchmark tables or their schemas).
  */
class GraftApiSpec extends SparkSpec {

  private lazy val session = spark
  import session.implicits._

  test("chunk on an ad-hoc frame") {
    val df = Seq((1L, "a" * 250), (2L, "b" * 90)).toDF("id", "body")
    val rows = Graft.chunk(df, "id", "body", size = 100, step = 50).collect()
    val byId = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    // 250: offsets 0,50,100,150,200 (window at 150 ends exactly at 250,
    // so the loop continues once more); 90 < size: single chunk at 0
    assert(byId(1L) == 5 && byId(2L) == 1)
  }

  test("tf/idf/search pipeline on an ad-hoc corpus") {
    val docs = Seq(
      (1L, "spark makes joins fast"),
      (2L, "ducks make ponds wet"),
      (3L, "spark spark spark everywhere")).toDF("id", "body")
    val tf = Graft.termFreq(docs, "id", "body")
    val idfTab = Graft.idf(tf, nDocs = 3)
    val hits = Graft.searchTfIdf(tf, idfTab, Seq("spark"), k = 2).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
    // doc 3 (tf=3) outranks doc 1 (tf=1)
    assert(hits.head.getAs[Long]("doc_id") == 3L)
  }

  test("search takes a raw query string and equals the term-list form") {
    val docs = Seq(
      (1L, "spark makes joins fast"),
      (2L, "ducks make ponds wet"),
      (3L, "spark spark spark everywhere")).toDF("id", "body")
    // tokenizer twin: punctuation/case/empty handling matches Text.tokenize
    assert(Graft.tokenizeQuery("Spark, JOINS!!  fast") ==
      Seq("spark", "joins", "fast"))
    val fromString = Graft.search(docs, "id", "body", "Spark JOINS fast?", k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val tf = Graft.termFreq(docs, "id", "body")
    val fromTerms = Graft.searchTfIdf(tf, Graft.idf(tf, nDocs = 3),
        Seq("spark", "joins", "fast"), k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(fromString.sameElements(fromTerms))
    // carryCol collision guard fails fast
    intercept[IllegalArgumentException] {
      Graft.chunk(docs.withColumn("start", lit(1)), "id", "body",
        carryCols = Seq("start"))
    }
  }

  test("rrfFuse equals r18's fusion on the same towers; facades run " +
      "on ad-hoc frames") {
    // r18's towers, rebuilt through the facade surface
    val t = Tables(spark, sf)
    val tf = graft.operators.Search.tfStaged(t)
    val lex = Graft.searchBm25(tf, graft.operators.Search.queryTerms, 20)
      .withColumnRenamed("doc_id", "id")
    val probe = t.embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>").as("pv"))
    val dense = t.embeddings.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("id"),
        round(graft.functions.Vectors.cosine(col("v"), col("pv")), 4)
          .as("score"))
      .orderBy(col("score").desc, col("id")).limit(20)
    val fused = Graft.rrfFuse(
      Seq(lex.withColumnRenamed("score", "s"), dense.withColumnRenamed("score", "s")),
      "id", "s", k = 10).collect()
    val r18 = run("r18_hybrid_rrf").collect()
    assert(fused.map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf"))).toSeq ==
      r18.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSeq)
    // shuffleShard facade on an ad-hoc frame: full cover, dense pos
    val adhoc = (1L to 100L).map(i => (i, s"doc$i")).toDF("k", "body")
    val sharded = Graft.shuffleShard(adhoc, "k", nShards = 4).collect()
    assert(sharded.map(_.getAs[Long]("doc_id")).toSet.size == 100)
    // zorderBy facade: zval appended, within 32-bit range, corners map
    // to curve endpoints
    val pts = Seq((0L, 0.0), (0L, 100.0), (9L, 0.0), (9L, 100.0), (5L, 50.0))
      .toDF("x", "y")
    val z = Graft.zorderBy(pts, "x", "y").collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Double]("y"), r.getAs[Long]("zval")))
    assert(z.forall { case (_, _, v) => v >= 0L && v < (1L << 32) })
    assert(z.collect { case (0L, 0.0, v) => v }.head == 0L)
    assert(z.collect { case (9L, 100.0, v) => v }.head == (1L << 32) - 1)
  }

  test("bloomDecontaminate facade equals decontaminate on ad-hoc docs") {
    val docs = (0L to 200L).map { i =>
      val text = if (i % 97 == 0) "alpha beta gamma delta epsilon zeta"
        else if (i % 10 == 0) "alpha beta gamma delta epsilon shared tail"
        else s"unique body $i with plain filler words number $i"
      (i, text)
    }.toDF("id", "body")
    val exact = Graft.decontaminate(docs, "id", "body", sorted = true)
      .collect().map(_.toSeq)
    val bloom = Graft.bloomDecontaminate(docs, "id", "body", sorted = true)
      .collect().map(_.toSeq)
    assert(exact.nonEmpty && bloom.toSeq == exact.toSeq)
  }

  test("dedupExactGroups with a custom key") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "v")
    val groups = Graft.dedupExactGroups(df, "id", md5(col("v"))).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_copies") == 2)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
  }

  test("jaccardPairs finds a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base + " tonight"),
      (3L, "completely different words about databases and storage"))
      .toDF("id", "body")
    val pairs = Graft.jaccardPairs(docs, "id", "body", k = 3, threshold = 0.5)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("minhashLshPairs / simhashPairs / searchBm25 on ad-hoc frames") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base + " tonight"),
      (3L, "completely different words about databases and storage"))
      .toDF("id", "body")
    val mh = Graft.minhashLshPairs(docs, "id", "body").collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val sh = Graft.simhashPairs(docs, "id", "body", maxHamming = 10).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    val tf = Graft.termFreq(docs, "id", "body")
    val bm = Graft.searchBm25(tf, Seq("databases"), 3).collect()
    assert(bm.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L))
  }

  test("embeddingNearDupPairs + annTopK on ad-hoc vectors") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0)),
      (3L, Array(0.0, 1.0, 0.0))).toDF("id", "vec")
    val pairs = Graft.embeddingNearDupPairs(vecs, "id", "vec", 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(!pairs.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 3L)))
    val nn = Graft.annTopK(vecs, "id", "vec", Seq(1.0, 0.0, 0.0), k = 2).collect()
    assert(nn.head.getAs[Long]("vec_id") == 1L)
  }

  test("lshConfigFor reproduces SURVEY §5's measured operating points") {
    import graft.operators.Dedup
    // moderate regime (threshold 0.45): bits with log n, tables n^ρ
    // with the MEASURED ρ = 0.575 — the d5n probe table verbatim
    assert(Dedup.lshConfigFor(2000, 0.45) == ((256, 16, 1)))
    assert(Dedup.lshConfigFor(20000, 0.45) == ((962, 20, 1)))
    assert(Dedup.lshConfigFor(60000, 0.45) == ((1809, 21, 1)))
    assert(Dedup.lshConfigFor(200000, 0.45) == ((3616, 23, 1)))
    // production near-dup regime (threshold ≥ 0.9): exact collisions
    // only, tables fixed at the base 256, bits still with log n
    assert(Dedup.lshConfigFor(2000, 0.95) == ((256, 16, 0)))
    assert(Dedup.lshConfigFor(200000, 0.95) == ((256, 23, 0)))
    // sub-reference corpora keep the measured frontier shape
    assert(Dedup.lshConfigFor(100, 0.45) == ((256, 16, 1)))
    // the packed-long band key holds at the largest auto point
    val (nb, bb, _) = Dedup.lshConfigFor(200000, 0.45)
    assert(bb + (32 - Integer.numberOfLeadingZeros(nb - 1)) <= 63)
  }

  test("saltedJoin equals the plain join on an ad-hoc skewed frame") {
    // 200 facts all on ONE hot key + a few cold ones
    val facts = ((1 to 200).map(i => (i.toLong, 7L)) ++
      Seq((201L, 1L), (202L, 2L))).toDF("row_id", "k")
    val dims = Seq((7L, "hot"), (1L, "c1"), (2L, "c2"), (9L, "unused"))
      .toDF("dk", "label")
    val salted = Graft.saltedJoin(facts, dims, "k", "dk",
        col("row_id"), nSalts = 4)
      .select("row_id", "label").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val plain = facts.join(dims, col("k") === col("dk"))
      .select("row_id", "label").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain && salted.size == 202)
  }

  test("knnJoin ranks a planted twin first on ad-hoc vectors") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(60)(Array.fill(64)(rnd.nextGaussian()))
    // vec 100 is a near-copy of vec 0 — it must be vec 0's rank-1
    val twin = base(0).map(x => x + 0.05 * rnd.nextGaussian())
    val vecs = (base.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (100L, twin)).toSeq.toDF("id", "emb")
    val rows = Graft.knnJoin(vecs, "id", "emb", k = 2).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Int]("rank"),
        r.getAs[Long]("dst")))
    assert(rows.contains((0L, 1, 100L)), rows.filter(_._1 == 0L).toSeq)
    assert(rows.contains((100L, 1, 0L)))
  }

  test("operator caches are scoped: no net storage growth across calls") {
    val docs = Seq.tabulate(40)(i => (i.toLong,
      s"alpha beta gamma delta epsilon zeta eta theta word$i tail$i"))
      .toDF("id", "body")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    graft.Caches.release()
    val c0 = persisted
    Graft.jaccardPairs(docs, "id", "body").count()
    val c1 = persisted
    assert(c1 > c0, "expected the operator to register caches")
    // the NEXT operator call releases the previous call's caches —
    // storage memory is bounded by one operator's working set
    Graft.jaccardPairs(docs, "id", "body").count()
    assert(persisted == c1, s"cache count grew: $persisted > $c1")
    Graft.minhashLshPairs(docs, "id", "body").count()
    assert(persisted <= c1)
    graft.Caches.release()
    assert(persisted == c0)
  }

  test("d6 grouping terminates on a dup-free corpus (no pairs, no NPE)") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    // the CC loop over zero edges must converge immediately and
    // return an empty grouping, not throw on the empty-sum scalar
    assert(graft.operators.Dedup.dedupGroupsFrom(docs, 0.5).count() == 0)
  }

  test("overlapScrub masks a planted benchmark quote, keeps the rest") {
    val bench = "alpha beta gamma delta epsilon"          // id 0 ≡ 0 % 97
    val docs = Seq(
      (0L, bench),
      (1L, s"intro words then $bench and a tail here"),
      (2L, "nothing shared with the benchmark at all")).toDF("id", "body")
    val rows = Graft.overlapScrub(docs, "id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_masked"))).toMap
    assert(!rows.contains(0L))            // bench side excluded
    assert(rows(1L)._2 == 5)              // exactly the quoted 5-gram
    assert(rows(2L)._2 == 0)
  }

  test("groupSplit keeps a planted near-dup pair in one split") {
    val twin = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, twin), (2L, twin + " iota"),
      (3L, "completely different words entirely elsewhere now"))
      .toDF("id", "body")
    val rows = Graft.groupSplit(docs, "id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("grp"), r.getAs[String]("split"))).toMap
    assert(rows.size == 3)
    assert(rows(1L) == rows(2L))          // same group, same split
    assert(rows(3L)._1 == 3L)             // singleton groups as itself
  }

  test("bpeTrain on an ad-hoc corpus: the repeated pair merges first") {
    val docs = Seq((1L, "abab abab cd"), (2L, "abab xyz")).toDF("id", "body")
    val rows = Graft.bpeTrain(docs, "body", nMerges = 3).collect()
    assert(rows.length == 3)
    // (a,b) is the most frequent adjacent pair (2 per "abab" × 3 occ)
    assert(rows.head.getAs[String]("lhs") == "a" &&
      rows.head.getAs[String]("rhs") == "b")
    // second merge compounds: (ab, ab) → abab
    assert(rows(1).getAs[String]("merged") == "abab")
  }

  test("bpe local fast path = distributed loop bit-for-bit (nMerges=8, richer corpus)") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox and the quick red fox"),
      (3L, "lazy dogs and quick foxes quarrel over bones"),
      (4L, "abab abab cd the fox")).toDF("id", "body")
    val words = docs
      .select(explode(graft.functions.Text.tokenize(col("body"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val dist = graft.operators.Search.bpeMergeSeqDistributed(words, 8)
    val local = graft.operators.Search.bpeMergeSeqLocal(
      words.collect().map(r => (r.getString(0), r.getLong(1))), 8)
    assert(dist.nonEmpty && local == dist)
    // and the public facade (which picks the local path here — the
    // dict is measured far under the Guards budget) returns the same
    // table
    val facade = Graft.bpeTrain(docs, "body", nMerges = 8).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_n"))).toSeq
    assert(facade == dist)
  }

  test("bpe batched fallback preserves exact greedy order on corpora " +
      "engineered to trip the fold guards, and under truncation") {
    import org.apache.spark.sql.functions._
    def wordsOf(wf: (String, Long)*) = wf.toSeq.toDF("word", "freq")
    def check(words: org.apache.spark.sql.DataFrame, n: Int,
        fetchTop: Int = 1024): Unit = {
      val dist = graft.operators.Search
        .bpeMergeSeqDistributed(words, n, fetchTop)
      val local = graft.operators.Search.bpeMergeSeqLocal(
        words.collect().map(r => (r.getString(0), r.getLong(1))), n)
      assert(dist.nonEmpty && dist == local,
        s"dist=$dist\nlocal=$local")
    }
    // created-pair promotion: after (a,b)→ab merges, the TRUE next
    // merge is the brand-new (x, ab) — a pair no pre-merge count list
    // contains; a fold that kept consuming its stale list would pick
    // (c, d) instead
    check(wordsOf("xab" -> 100L, "cd" -> 60L), 4)
    // overlap chain: (ab, ab) emerges from the merged word itself
    check(wordsOf("abababab" -> 50L), 4)
    // tie-steal surface: touched-sharing pairs tie untouched ones at
    // the same count, so the clean-ties guard must stop the fold
    check(wordsOf("aby" -> 10L, "ab" -> 5L, "acd" -> 10L, "nn" -> 10L), 6)
    // truncation: a 2-row visible list forces the strict-above-cut
    // guard every pass
    check(wordsOf("xab" -> 100L, "cd" -> 60L, "ef" -> 60L), 5,
      fetchTop = 2)
    // seeded fuzz: random small-alphabet words exercise the guards
    // organically; equality must hold bit-for-bit
    val rnd = new scala.util.Random(42)
    val fuzz = (1 to 60).map { _ =>
      val len = 2 + rnd.nextInt(6)
      val w = (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      (w, (1 + rnd.nextInt(20)).toLong)
    }.groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq
    check(wordsOf(fuzz: _*), 12)
  }

  test("groupMaintenance session: incremental steps equal one-shot dedupGroups") {
    val ab = "one two three four five six seven eight nine ten"
    val docs = Seq(
      1L -> ab, 2L -> (ab + " eleven"),          // a near-dup pair
      3L -> "alpha beta gamma delta epsilon zeta eta theta",
      4L -> "cold stone river mountain valley cloud storm wind rain")
    val all = docs.toDF("id", "body")
    val gm = Graft.groupMaintenance(SparkSpec.spark)
    // arrivals in two waves: the pair is split across them
    gm.step(Seq(docs(0), docs(2)).toDF("id", "body"), "id", "body")
    gm.step(Seq(docs(1), docs(3)).toDF("id", "body"), "id", "body")
    val inc = gm.compact().collect().map(_.toSeq)
    val batch = Graft.dedupGroups(all, "id", "body", sorted = true)
      .collect().map(_.toSeq)
    assert(inc.nonEmpty && inc.toSeq == batch.toSeq)
  }

  test("groupMaintenance over a durable state root: stop, reopen, continue = one continuous session") {
    val ab = "one two three four five six seven eight nine ten"
    val cd = "red green blue yellow purple orange pink brown gray black"
    val docs = Seq(
      1L -> ab, 2L -> (ab + " eleven"),          // near-dup pair, wave 1+2
      3L -> "alpha beta gamma delta epsilon zeta eta theta",
      4L -> cd, 5L -> (cd + " white"))           // near-dup pair, wave 2+3
    val all = docs.toDF("id", "body")
    val root = graft.Staging.scratch("gm_root_spec")
    // session A: waves 1-2, then the session object goes away
    val a = Graft.groupMaintenance(SparkSpec.spark,
      stateRoot = Some(root))
    a.step(Seq(docs(0), docs(2)).toDF("id", "body"), "id", "body")
    a.step(Seq(docs(1), docs(3)).toDF("id", "body"), "id", "body")
    // session B RESUMES the same root: wave 3, then compact
    val b = Graft.groupMaintenance(SparkSpec.spark,
      stateRoot = Some(root))
    b.step(Seq(docs(4)).toDF("id", "body"), "id", "body")
    val resumed = b.compact().collect().map(_.toSeq)
    // one continuous session over a fresh root, same waves
    val c = Graft.groupMaintenance(SparkSpec.spark)
    c.step(Seq(docs(0), docs(2)).toDF("id", "body"), "id", "body")
    c.step(Seq(docs(1), docs(3)).toDF("id", "body"), "id", "body")
    c.step(Seq(docs(4)).toDF("id", "body"), "id", "body")
    val continuous = c.compact().collect().map(_.toSeq)
    assert(resumed.nonEmpty && resumed.toSeq == continuous.toSeq)
    // and both equal the batch operator over the full corpus
    val batch = Graft.dedupGroups(all, "id", "body", sorted = true)
      .collect().map(_.toSeq)
    assert(resumed.toSeq == batch.toSeq)
    // both dup pairs really span a session/wave boundary
    assert(batch.length == 4)
  }

  test("bpeEncode applies trained merges: frequent word fuses to one subword") {
    val docs = Seq((1L, "abab abab cd"), (2L, "abab xyz")).toDF("id", "body")
    // merges 1-2 build abab (see bpeTrain test); doc 2 then encodes as
    // [abab, x, y, z] — word bars keep "abab x" from merging across
    val rows = Graft.bpeEncode(docs, "id", "body", nMerges = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_sub"))
      .toMap
    assert(rows(1L) == 1 + 1 + 2) // [abab, abab, c, d]
    assert(rows(2L) == 1 + 3)     // [abab, x, y, z]
    // zero merges = plain char counts
    val chars = Graft.bpeEncode(docs, "id", "body", nMerges = 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_sub"))
      .toMap
    assert(chars(1L) == 10 && chars(2L) == 7)
  }

  test("bpeTrain degrades to fewer merges when pairs run out") {
    val docs = Seq((1L, "ab")).toDF("id", "body")
    val rows = Graft.bpeTrain(docs, "body", nMerges = 3).collect()
    // one merge (a,b) exhausts the corpus; no crash, 1 row
    assert(rows.length == 1 && rows.head.getAs[String]("merged") == "ab")
  }

  test("perplexityScore: the repetitive doc is more predictable than the odd one") {
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat"),
      (2L, "the cat sat the cat sat the cat sat"),
      (3L, "zebra quartz jumps vortex nymph")).toDF("id", "body")
    val rows = Graft.perplexityScore(docs, "id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    assert(rows(1L) < rows(3L))
    assert(rows(1L) == rows(2L))
  }

  test("perplexityScore minCount prune: singleton-bigram docs drop, survivors keep exact scores") {
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat"),
      (2L, "the cat sat the cat sat the cat sat"),
      (3L, "zebra quartz jumps vortex nymph")).toDF("id", "body")
    val full = Graft.perplexityScore(docs, "id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    val pruned = Graft.perplexityScore(docs, "id", "body", minCount = 2L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    // doc 3's bigrams are all singletons → pruned out of the LM → no
    // in-LM evidence → dropped; docs 1/2's bigrams all survive, and
    // context counts / vocab stay pre-prune, so scores are bit-equal
    assert(pruned.keySet == Set(1L, 2L))
    assert(pruned(1L) == full(1L) && pruned(2L) == full(2L))
  }

  test("pqEncode on an ad-hoc frame: identical vectors share codes and qerr") {
    val v = Seq.tabulate(64)(i => i / 64.0)
    val w = Seq.tabulate(64)(i => 1.0 - i / 64.0)
    val df = Seq((1L, v), (2L, v), (3L, w), (4L, w)).toDF("id", "vec")
    val rows = Graft.pqEncode(df, "id", "vec", k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.toSeq.drop(1)).toMap
    assert(rows(1L) == rows(2L) && rows(3L) == rows(4L))
    assert(rows(1L) != rows(3L))
  }

  test("sessionize on an ad-hoc event frame") {
    val evs = Seq(
      (7L, "2024-01-01 10:00:00", 1L),
      (7L, "2024-01-01 10:10:00", 2L),
      (7L, "2024-01-01 11:30:00", 3L)) // 80-min gap → new session
      .toDF("user", "ts_s", "eid")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val s = Graft.sessionize(evs, "user", "ts", "eid").collect()
    assert(s.map(_.getAs[Long]("session_id")).sorted.toSeq == Seq(1L, 1L, 2L))
  }

  test("sequencePack on an ad-hoc corpus: contiguous spans, straddling doc") {
    val docs = Seq(
      (1L, "shardA", "one two three"),            // 3 toks → pack 0
      (2L, "shardA", "a b c d"),                  // start 3, ends 6 → straddles
      (3L, "shardA", "x y"),                      // start 7
      (9L, "shardB", "solo doc here"))
      .toDF("id", "src", "body")
    val rows = Graft.sequencePack(docs, "id", "src", "body", budget = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tok_start"), r.getAs[Long]("pack_first"),
          r.getAs[Long]("pack_last"))).toMap
    assert(rows(1L) == (0L, 0L, 0L))
    assert(rows(2L) == (3L, 0L, 1L)) // tokens 3..6 straddle the 5-boundary
    assert(rows(3L) == (7L, 1L, 1L))
    assert(rows(9L) == (0L, 0L, 0L)) // shards pack independently
  }

  test("mixtureSample: rate 0 drops all, rate 1 keeps all, deterministic between") {
    val docs = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "keepall" else "half")).toDF("id", "src")
    val weights = Seq(("keepall", 1.0), ("half", 0.5)).toDF("source", "rate")
    val kept = Graft.mixtureSample(docs, "id", "src", weights).collect()
    val bySrc = kept.groupBy(_.getAs[String]("src")).view.mapValues(_.length)
    assert(bySrc("keepall") == 100)           // rate 1.0 keeps every row
    assert(math.abs(bySrc("half") - 50) < 25) // hash-Bernoulli ≈ half
    // deterministic: identical keep set on re-run
    val again = Graft.mixtureSample(docs, "id", "src", weights).collect()
    assert(again.map(_.getAs[Long]("id")).sorted.toSeq ==
      kept.map(_.getAs[Long]("id")).sorted.toSeq)
    val none = Graft.mixtureSample(docs, "id", "src",
      Seq(("keepall", 0.0), ("half", 0.0)).toDF("source", "rate")).count()
    assert(none == 0)
  }

  test("semdedupPairs reports a planted twin within its cluster") {
    // seeds are the FIRST nLists ids, so put the two dissimilar
    // vectors first (they become the centroids) and the planted twins
    // after — the twins then co-cluster and must pair up
    val vs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.01, 0.0, 0.999, 0.0))).toDF("id", "vec")
    val pairs = Graft.semdedupPairs(vs, "id", "vec",
        nLists = 2, threshold = 0.9).collect()
    assert(pairs.exists(r => r.getAs[Long]("vec_a") == 3L &&
      r.getAs[Long]("vec_b") == 4L && r.getAs[Double]("cos") > 0.99))
    // no cross-cluster / low-similarity pair leaks in
    pairs.foreach(r => assert(r.getAs[Double]("cos") >= 0.9))
  }

  test("semdedupPairs edge inputs: empty frame yields empty typed result, ragged rows drop") {
    val empty = Graft.semdedupPairs(
      Seq.empty[(Long, Seq[Double])].toDF("id", "vec"), "id", "vec")
    assert(empty.columns.toSeq == Seq("cid", "vec_a", "vec_b", "cos"))
    assert(empty.count() == 0)
    // a ragged row can't be scored against the dim-4 codebook: it is
    // dropped, and the planted twin pair is still found
    val vs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.01, 0.0, 0.999, 0.0)),
      (5L, Seq(1.0, 0.0))).toDF("id", "vec")
    val pairs = Graft.semdedupPairs(vs, "id", "vec",
        nLists = 2, threshold = 0.9).collect()
    assert(pairs.exists(r => r.getAs[Long]("vec_a") == 3L &&
      r.getAs[Long]("vec_b") == 4L))
    assert(!pairs.exists(r => r.getAs[Long]("vec_a") == 5L ||
      r.getAs[Long]("vec_b") == 5L))
  }

  test("cache scoping: storage bounded by one operator across calls; releaseCaches empties it") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("id", "body")
    Graft.jaccardPairs(docs, "id", "body").count()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    assert(after1 > 0) // the operator did cache its working set
    Graft.simhashPairs(docs, "id", "body").count()
    // fresh() at the second entry released the first call's caches:
    // no net growth across consecutive facade calls
    val after2 = spark.sparkContext.getPersistentRDDs.size
    assert(after2 <= after1, s"storage grew: $after1 -> $after2")
    Graft.releaseCaches()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("lineDedup drops the later copy of a repeated line, keeps order") {
    // line width 2 tokens: doc 1 = [a b][c d], doc 2 = [a b][e f],
    // doc 3 = [c d] — "a b" and "c d" recur and must be kept only at
    // their first (doc, line_no) occurrence
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b e f"), (3L, "c d")).toDF("id", "body")
    val rows = Graft.lineDedup(docs, "id", "body", lineTokens = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"))).toMap
    assert(rows(1L) == (2L, 2L)) // first owner of both lines
    assert(rows(2L) == (2L, 1L)) // "a b" already owned by doc 1
    assert(rows(3L) == (1L, 0L)) // "c d" already owned by doc 1
  }

  test("decontaminate flags a doc quoting the benchmark slice") {
    val bench = (0L, "the secret eval question about spark windows exactly")
    val docs = Seq(
      bench,                                                   // id 0 → bench (0 % 5)
      (1L, "the secret eval question about spark windows exactly copied"),
      (2L, "totally unrelated words nothing shared here at all"),
      (5L, "another bench doc with its own content entirely")) // 5 % 5 → bench
      .toDF("doc_id", "text")
    val hits = Graft.decontaminate(docs, "doc_id", "text", benchMod = 5)
      .collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[Long]("train_id") == 1L)
    assert(hits.head.getAs[Long]("bench_id") == 0L)
    assert(hits.head.getAs[Long]("n_shared") >= 4) // shared 5-grams
  }

  test("indexMaintenance session: incremental arrivals serve the " +
      "batch BM25 ranking; a durable root resumes") {
    val docs = (1L to 10L).map(i =>
      (i, s"spark filter doc$i " + ("spark " * (i % 4).toInt)))
    val all = docs.toDF("id", "body")
    val im = Graft.indexMaintenance(SparkSpec.spark)
    im.step(docs.take(5).toDF("id", "body"), "id", "body")
    im.step(docs.drop(5).toDF("id", "body"), "id", "body")
    val inc = im.search("spark filter", k = 5).collect().map(_.toSeq)
    val batch = Graft.searchBm25(Graft.termFreq(all, "id", "body"),
      Graft.tokenizeQuery("spark filter"), k = 5).collect().map(_.toSeq)
    assert(inc.nonEmpty && inc.toSeq == batch.toSeq)
    // durable root: waves split across two sessions = one session
    val root = graft.Staging.scratch("im_root_spec")
    val a = Graft.indexMaintenance(SparkSpec.spark, Some(root))
    a.step(docs.take(5).toDF("id", "body"), "id", "body")
    val b = Graft.indexMaintenance(SparkSpec.spark, Some(root))
    b.step(docs.drop(5).toDF("id", "body"), "id", "body")
    assert(b.search("spark filter", k = 5).collect()
      .map(_.toSeq).toSeq == inc.toSeq)
  }

  test("annIndexMaintenance session: incremental arrivals serve the " +
      "batch IVF ranking under the pinned codebook") {
    val spark = SparkSpec.spark
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // nLists pinned to 16: the batch-equality check below compares
    // against s3's spec-pinned 16-list serving shape
    val im = Graft.annIndexMaintenance(spark, vecs, "vec_id",
      "embedding", nLists = 16)
    im.step(vecs.filter(col("vec_id") % 2 === 0))
    im.step(vecs.filter(col("vec_id") % 2 === 1))
    val qv = vecs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val got = im.search(qv, k = 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    // rank-1 under cosine is the query vector itself (cos 1.0)
    assert(got.length == 10 && got.head._1 == 0L && got.head._2 == 1.0)
    // and the tail matches batch s3's serving over the same corpus
    // (s3 excludes the probe row; the facade keeps it — rank 1)
    val want = graft.operators.Ann.s3AnnIvf(Tables(spark, sf))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(got.tail.sameElements(want.take(9)))
  }

  test("trainCodebookSampled: at-or-under the target it IS full " +
      "training; past it a deterministic sample still serves with recall") {
    val spark = SparkSpec.spark
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val n = vecs.count()
    // default perCentroid (64) puts this 500-vector corpus under the
    // 16-list target — the sampled path must BE the full path
    val full = graft.operators.Ann.trainCodebook(vecs, 16)
    val same = graft.operators.Ann.trainCodebookSampled(vecs, 16, n)
    assert(same.values.sameElements(full.values))
    // a tiny perCentroid forces real sampling: deterministic (two
    // trainings bit-equal) and a genuinely smaller training set
    val s1 = graft.operators.Ann.trainCodebookSampled(vecs, 16, n,
      perCentroid = 8)
    val s2 = graft.operators.Ann.trainCodebookSampled(vecs, 16, n,
      perCentroid = 8)
    assert(s1.values.sameElements(s2.values))
    assert(!s1.values.sameElements(full.values))
    // the sampled coarse quantizer still serves: a coarser codebook
    // trades recall PER PROBE, and widening nProbe buys it back (the
    // IVF contract) — top-10 at nProbe=4 keeps real recall vs exact
    // brute force on this near-uniform synthetic corpus
    val exact = graft.operators.Ann.s1AnnBruteforce(Tables(spark, sf))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val assigned = vecs.select(col("vec_id"), col("v"),
      element_at(graft.functions.Vectors.centroidRanks(col("v"), s1), 1)
        .as("cid"))
    val probeLists = assigned.filter(col("vec_id") === 0L)
      .select(explode(slice(
        graft.functions.Vectors.centroidRanks(col("v"), s1), 1, 4))
        .as("pcid"))
    val got = assigned
      .join(broadcast(probeLists), col("cid") === col("pcid"))
      .filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(assigned.filter(col("vec_id") === 0L)
        .select(col("v").as("pv"))))
      .select(col("vec_id"),
        round(graft.functions.Vectors.cosine(col("v"), col("pv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.5, s"sampled-codebook recall@10 = $recall")
  }

  test("maintenance sessions tolerate an EMPTY batch (a foreachBatch " +
      "retry with nothing new): state and serving unchanged") {
    val spark = SparkSpec.spark
    val docs = Seq(1L -> "alpha beta", 2L -> "alpha gamma")
      .toDF("id", "body")
    val emptyDocs = docs.limit(0)
    val im = Graft.indexMaintenance(spark)
    im.step(docs, "id", "body")
    val want = im.search("alpha", 5).collect().map(_.toSeq).toSeq
    im.step(emptyDocs, "id", "body")
    assert(im.search("alpha", 5).collect().map(_.toSeq).toSeq == want)
    val gm = Graft.groupMaintenance(spark)
    gm.step(docs, "id", "body")
    val g = gm.compact().collect().map(_.toSeq).toSeq
    gm.step(emptyDocs, "id", "body")
    assert(gm.compact().collect().map(_.toSeq).toSeq == g)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(20)
    val am = Graft.annIndexMaintenance(spark, vecs, "vec_id",
      "embedding", nLists = 4)
    am.step(vecs)
    val qv = vecs.select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    val a = am.search(qv, 5).collect().map(_.toSeq).toSeq
    am.step(vecs.limit(0))
    assert(am.search(qv, 5).collect().map(_.toSeq).toSeq == a)
  }

  test("ivfConfigFor: √n list count pinned at probe scales; the " +
      "default ANN session auto-sizes from the measured corpus") {
    import graft.operators.Ann.ivfConfigFor
    // operating points: floor below 256 vectors, ≈√n above — at 100×
    // the corpus a probe list grows 10×, not 100×
    assert(ivfConfigFor(40) == 16)
    assert(ivfConfigFor(256) == 16)
    assert(ivfConfigFor(2000) == 45)
    assert(ivfConfigFor(20000) == 141)
    assert(ivfConfigFor(200000) == 447)
    assert(ivfConfigFor(20000000) == 4472)
    // the facade's default resolves via the measured count (500
    // vectors at this sf → 22 lists), not a hardcoded 16
    val spark = SparkSpec.spark
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val auto = Graft.annIndexMaintenance(spark, vecs, "vec_id",
      "embedding")
    assert(auto.listCount == ivfConfigFor(vecs.count()))
    assert(auto.listCount != 16)
  }

  test("round-9 facades on edge inputs: empty frames yield typed " +
      "empties, token-less docs survive with q_score 0") {
    val noDocs = Seq.empty[(Long, String)].toDF("id", "body")
    val kb = Graft.dedupKeepBest(noDocs, "id", "body")
    assert(kb.columns.toSeq ==
      Seq("doc_id", "grp", "group_size", "q_score"))
    assert(kb.count() == 0)
    val mw = Graft.mixtureWeights(noDocs.withColumnRenamed("id", "src"),
      "src", "body")
    assert(mw.count() == 0)
    assert(Graft.perplexityBuckets(noDocs, "id", "body").count() == 0)
    // a doc with NO alphanumeric tokens has no quality ratios: it
    // must survive keep-best as a singleton at q_score 0, not vanish
    val odd = Seq((1L, "!!! ??? ***"), (2L, "real words here on the mat"))
      .toDF("id", "body")
    val kept = Graft.dedupKeepBest(odd, "id", "body", sorted = true)
      .collect()
    assert(kept.length == 2)
    assert(kept.find(_.getAs[Long]("doc_id") == 1L).get
      .getAs[Double]("q_score") == 0.0)
  }

  test("late-round facades on edge inputs: empty frames yield typed " +
      "empties, degenerate shapes survive") {
    val noDocs = Seq.empty[(Long, String)].toDF("id", "body")
    // selfrepScrub: empty corpus → empty typed frame
    val sc = Graft.selfrepScrub(noDocs, "id", "body")
    assert(sc.columns.toSeq ==
      Seq("doc_id", "n_tok", "n_masked", "clean_md5"))
    assert(sc.count() == 0)
    // dsirSelect: no target-group docs ⇒ the target model is all-
    // smoothing (c_t = 0 everywhere) — still ranks, never crashes
    val allDe = Seq((1L, "de", "wort eins"), (2L, "de", "wort zwei"))
      .toDF("id", "grp", "body")
    assert(Graft.dsirSelect(allDe, "id", "grp", "body", "en").count() == 2)
    // sqEncode on a constant dimension: scale 0 → code 0, zero error
    val const = Seq((1L, Array(0.5, 1.0)), (2L, Array(0.5, 2.0)))
      .toDF("id", "emb")
    val enc = Graft.sqEncode(const, "id", "emb", dim = 2).collect()
    assert(enc.forall(_.getAs[String]("codes").startsWith("0-")))
    // sqEncode/sqSearch on an EMPTY frame: the all-null min/max row
    // serves the zero model and a typed empty — never an NPE
    val noVecs = const.filter(col("id") < 0L)
    assert(Graft.sqEncode(noVecs, "id", "emb", dim = 2).count() == 0)
    assert(Graft.sqSearch(noVecs, "id", "emb", Seq(0.1, 0.2),
      k = 3, dim = 2).count() == 0)
    // cdcFollow on a log with no committed snapshot refuses loudly
    val emptyRoot = graft.Staging.scratch("api_cdc_empty")
    intercept[IllegalArgumentException] {
      Graft.cdcFollow(session, emptyRoot,
        graft.Staging.scratch("api_cdc_empty_state"), "k")
    }
  }

  test("quarantineReplay + annIndexMigrate facades drive the round-11 " +
      "lifecycles on ad-hoc state") {
    val session = spark
    import session.implicits._
    // quarantineReplay: corrected rule readmits even keys to main
    val tmp = graft.Staging.scratch("api_qreplay")
    Graft.tableCommit(
      Seq((1L, 10.0, Option.empty[String])).toDF("k", "v", "reason"),
      s"$tmp/main", "k", tag = "b0")
    Graft.tableCommit(
      Seq((3L, -5.0, Some("neg_v")), (4L, -7.0, Some("neg_v")))
        .toDF("k", "v", "reason"),
      s"$tmp/quarantine", "k", tag = "b0")
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reason",
        org.apache.spark.sql.types.StringType)))
    Graft.quarantineReplay(session, s"$tmp/main", s"$tmp/quarantine",
      s"$tmp/replay", sch, "k",
      expectations = Seq(("neg_v", "v >= 0 OR k % 2 = 0")),
      tag = "replay-b0")
    val m = Graft.tableLog(s"$tmp/main")
    val q = Graft.tableLog(s"$tmp/quarantine")
    assert(m.read(session, sch, m.latestVersion.get).count() == 2)
    assert(q.read(session, sch, q.latestVersion.get).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((3L, "neg_v")))
    // annIndexMigrate: v1 trained on a stale half, migrated to the
    // full-corpus model through the facade; pointer + codebook flip,
    // old root vacuumed, index still serves
    val t = Tables(spark, sf)
    val parent = graft.Staging.scratch("api_migrate")
    val vecs = t.embeddings.select(col("vec_id"), col("embedding"))
    val idx = Graft.annIndexMaintenance(session,
      vecs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nLists = 16, stateRoot = Some(s"$parent/v1"))
    idx.step(vecs)
    Graft.annIndexPublish(parent, "v1")
    Graft.annIndexMigrate(session, parent, "v2", vecs,
      "vec_id", "embedding", nLists = 16)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/v1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parent/v2/codebook.meta")))
    val (st2, cb2) = graft.streaming.Streams.st20Serving(session,
      parent)
    assert(spark.read.parquet(st2.dir("vectors")).count() == vecs.count())
    val qv = vecs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .collect()(0).getSeq[Double](0)
    assert(graft.streaming.Streams
      .st15Serve(st2, cb2, qv, 2, 10, excludeId = Some(0L))
      .count() == 10)
  }

  test("tableCommit/tableLog on an ad-hoc frame: append then replace, " +
      "time travel intact, stats prune the read") {
    val root = graft.Staging.scratch("api_tablelog")
    val gen1 = (1L to 100L).map(i => (i, s"row$i")).toDF("k", "payload")
    val v0 = Graft.tableCommit(
      gen1.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, "k", tag = "gen1")
    assert(v0 == 0L)
    // append a second generation — snapshot is the union
    val gen2 = (101L to 200L).map(i => (i, s"row$i")).toDF("k", "payload")
    val v1 = Graft.tableCommit(
      gen2.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, "k", tag = "gen2")
    val log = Graft.tableLog(root)
    val schema = gen1.schema
    assert(log.read(session, schema, v0).count() == 100L)
    assert(log.read(session, schema, v1).count() == 200L)
    // stats prune: a narrow range admits a strict file subset
    val admitted = log.prunedFiles(v1, 10L, 20L)
    assert(admitted.nonEmpty &&
      admitted.length < log.snapshot(v1).length)
    assert(log.prunedRead(session, schema, v1, 10L, 20L)
      .filter(col("k").between(10L, 20L)).count() == 11L)
    // copy-on-write replace: new snapshot is only gen3, but v0/v1
    // keep serving (their files were removed from the list, not disk)
    val gen3 = (1L to 50L).map(i => (i, s"new$i")).toDF("k", "payload")
    val v2 = Graft.tableCommit(gen3, root, "k", replace = true,
      tag = "rewrite")
    assert(log.read(session, schema, v2).count() == 50L)
    assert(log.read(session, schema, v1).count() == 200L)
    assert(log.tagVersion("rewrite").contains(v2))
  }

  test("cdcFollow on an ad-hoc versioned table: mirror tracks the " +
      "head across append and rewrite, resume applies only new versions") {
    val src = graft.Staging.scratch("api_cdc_src")
    val st = graft.Staging.scratch("api_cdc_state")
    val gen1 = (1L to 60L).map(i => (i, s"v$i")).toDF("k", "payload")
    Graft.tableCommit(gen1, src, "k")
    val f = Graft.cdcFollow(session, src, st, "k")
    f.follow()
    assert(f.mirror.count() == 60L)
    // a pure-APPEND version shares v0's files — the file-level delta
    // diff sees only the appended file, classifying its rows inserts
    // (v0's untouched rows never enter the diff)
    val gen1b = (61L to 80L).map(i => (i, s"v$i")).toDF("k", "payload")
    Graft.tableCommit(gen1b, src, "k")
    f.follow()
    val m1 = f.mirror.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1.size == 80 && m1(61L) == "v61" && m1(1L) == "v1")
    // a rewrite version: keys 1-30 updated, the rest dropped, 100+ added
    val gen2 = ((1L to 30L).map(i => (i, s"u$i")) ++
      (101L to 110L).map(i => (i, s"n$i"))).toDF("k", "payload")
    Graft.tableCommit(gen2, src, "k", replace = true)
    f.follow()
    val m = f.mirror.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 40 && m(1L) == "u1" && m(101L) == "n101" &&
      !m.contains(31L) && !m.contains(61L))
    // a fresh follower over the same state resumes from the cursor —
    // following again applies nothing and the mirror is unchanged
    val f2 = Graft.cdcFollow(session, src, st, "k")
    f2.follow()
    assert(f2.mirror.collect().map(r =>
      r.getLong(0) -> r.getString(1)).toMap == m)
  }

  test("sqEncode/sqSearch on an ad-hoc frame: exact-match neighbor " +
      "ranks first, codes stay in byte range") {
    val vecs = Seq(
      (1L, Array(0.0, 0.0, 1.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0, 0.2)),
      (3L, Array(0.1, 0.9, 0.3, 0.0)),
      (4L, Array(0.89, 0.11, 0.01, 0.19))).toDF("id", "emb")
    val enc = Graft.sqEncode(vecs, "id", "emb", dim = 4).collect()
    assert(enc.length == 4)
    enc.foreach { r =>
      val codes = r.getAs[String]("codes").split("-").map(_.toInt)
      assert(codes.length == 4 && codes.forall(c => c >= 0 && c <= 255))
      assert(r.getAs[Double]("qerr") >= 0.0)
    }
    // query at vector 2 — its near-twin 4 must rank above the rest
    val hits = Graft.sqSearch(vecs.filter(col("id") =!= 2L), "id", "emb",
      Seq(0.9, 0.1, 0.0, 0.2), k = 3, dim = 4).collect()
    assert(hits.head.getLong(0) == 4L)
  }

  test("bqSearch on an ad-hoc frame: near-twin ranks first, hamming " +
      "bounded by dim, dim mismatch names itself") {
    val vecs = Seq(
      (1L, Array(0.0, 0.0, 1.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0, 0.2)),
      (3L, Array(0.1, 0.9, 0.3, 0.0)),
      (4L, Array(0.89, 0.11, 0.01, 0.19))).toDF("id", "emb")
    val hits = Graft.bqSearch(vecs.filter(col("id") =!= 2L), "id",
      "emb", Seq(0.9, 0.1, 0.0, 0.2), shortlist = 3, k = 2, dim = 4)
      .collect()
    assert(hits.head.getLong(0) == 4L)
    hits.foreach(r => assert(r.getAs[Int]("hamming") <= 4))
    // the dim contract is enforced, not silently corrupted
    val ex = intercept[IllegalArgumentException] {
      Graft.bqSearch(vecs, "id", "emb", Seq(0.9, 0.1), dim = 2)
    }
    assert(ex.getMessage.contains("dim"))
  }

  test("mrlSearch on an ad-hoc frame: prefix shortlist + exact " +
      "rerank find the near-twin") {
    val vecs = Seq(
      (1L, Array(0.0, 0.0, 1.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0, 0.2)),
      (3L, Array(0.1, 0.9, 0.3, 0.0)),
      (4L, Array(0.89, 0.11, 0.01, 0.19))).toDF("id", "emb")
    val hits = Graft.mrlSearch(vecs.filter(col("id") =!= 2L), "id",
      "emb", Seq(0.9, 0.1, 0.0, 0.2), prefixDim = 2, shortlist = 3,
      k = 2).collect()
    assert(hits.head.getLong(0) == 4L)
    // rerank cosine dominates the prefix estimate's ordering scope
    assert(hits.map(_.getAs[Double]("cos")).toSeq.sorted.reverse ==
      hits.map(_.getAs[Double]("cos")).toSeq)
  }

  test("embed-dim knob end-to-end: a d=16 encoder drops into the " +
      "ANN maintenance session and the s18 prefix contract holds at " +
      "the new dim") {
    val spark = SparkSpec.spark
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(100)
    val vecs = Graft.embed(docs, "doc_id", "text", dim = 16)
    val em = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // the encoder really produced unit-norm 16-dim vectors
    val norms = em.select(sqrt(aggregate(col("v"), lit(0.0),
      (a, x) => a + x * x)).as("n")).collect().map(_.getDouble(0))
    assert(norms.length == 100 &&
      norms.forall(n => math.abs(n - 1.0) < 1e-6))
    assert(em.select(size(col("v"))).collect()
      .forall(_.getInt(0) == 16))
    // the maintenance session trains/serves at d=16 (the dim knob
    // threads through trainCodebookSampled — a 64-dim default would
    // zero-pad centroids and mis-rank)
    val im = Graft.annIndexMaintenance(spark, em, "vec_id", "v",
      nLists = 8, dim = 16)
    im.step(em)
    val qv = em.filter(col("vec_id") === 0L)
      .collect()(0).getSeq[Double](1)
    val got = im.search(qv, k = 5, nProbe = 2).collect()
    assert(got.nonEmpty && got.head.getAs[Long]("vec_id") == 0L &&
      got.head.getAs[Double]("cos") == 1.0)
    // s18's prefix contract re-checked at the new dim: prefix
    // shortlist over the first 4 of 16 dims, exact rerank full-dim,
    // rank-1 is the query vector itself and pcos recomputes from the
    // prefix alone
    val hits = Graft.mrlSearch(em, "vec_id", "v", qv, prefixDim = 4,
      shortlist = 20, k = 5).collect()
    assert(hits.head.getAs[Long]("vec_id") == 0L &&
      hits.head.getAs[Double]("cos") == 1.0)
    val byId = em.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cosP(a: Seq[Double], b: Seq[Double], d: Int): Double = {
      val (ap, bp) = (a.take(d), b.take(d))
      val dot = ap.zip(bp).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ap.map(x => x * x).sum) *
        math.sqrt(bp.map(x => x * x).sum))
    }
    hits.foreach { h =>
      val want = math.floor(
        cosP(byId(h.getAs[Long]("vec_id")), qv, 4) * 1e4 + 0.5) / 1e4
      assert(math.abs(h.getAs[Double]("pcos") - want) < 1e-9,
        s"pcos drifted for ${h.getAs[Long]("vec_id")}")
    }
  }

  test("ragIndex facade: the reference's prepare->index->search loop " +
      "over REAL content in two calls — routed per type, skips " +
      "dropped, staged towers serve, durable root reopens, and a " +
      "d=16 encoder drops in") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val nb = """{"cells":[{"cell_type":"markdown","source":"# spark join tutorial"},""" +
      """{"cell_type":"code","source":"df.join(other)"},""" +
      """{"cell_type":"raw","source":"no-export"}]}"""
    val docs = Seq(
      (1L, "repo/docs/intro.md", "en",
        "---\ntitle: intro\n---\nspark filter join window group " +
          "basics explained with zanzibar examples"),
      (2L, "repo/nb/demo.ipynb", "en", nb),
      (3L, "repo/src/job.py", "python",
        "def run(): spark filter job"),
      (4L, "repo/img/logo.png", "en", "not-indexable"),
      (5L, "repo/src/.hidden.py", "en", "skip me"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ragidx_").toString
    try {
      val idx = Graft.ragIndex(docs, "doc_id", "filepath", "lang",
        "text", stateRoot = Some(tmp))
      val hits = idx.search("Spark FILTER join; window?", k = 5)
        .collect()
      assert(hits.nonEmpty)
      val rrfs = hits.map(_.getAs[Double]("rrf"))
      assert(rrfs.sameElements(rrfs.sortBy(-_)))
      // only kept routes were indexed: png/hidden never chunked
      val srcDocs = hits.map(_.getAs[Long]("chunk_id") / 1000000L).toSet
      assert(!srcDocs.contains(4L) && !srcDocs.contains(5L))
      // content really flows: a term unique to the md body retrieves
      // a chunk of doc 1, and the staged chunk text carries it
      val zhit = idx.search("zanzibar", k = 1).collect()
      assert(zhit.nonEmpty)
      val zid = zhit.head.getAs[Long]("chunk_id")
      assert(zid / 1000000L == 1L)
      val ztext = idx.tables("chunks")
        .filter(col("chunk_id") === zid).collect()(0)
        .getAs[String]("chunk")
      assert(ztext.contains("zanzibar"))
      // the lexical ranks are the staged BM25 tower's own: recompute
      // from the RAW staged tf through the inline scorer
      val lexWant = graft.operators.Search.searchBm25From(
          idx.tables("tf").withColumnRenamed("chunk_id", "doc_id"),
          Seq("spark", "filter", "join", "window"), 20)
        .collect().map(_.getLong(0)).zipWithIndex
        .map { case (id, i) => id -> (i + 1) }.toMap
      hits.foreach { r =>
        Option(r.getAs[Any]("r_lex")).foreach(rl =>
          assert(lexWant(r.getAs[Long]("chunk_id")) ==
            rl.asInstanceOf[Int]))
      }
      // the durable root REOPENS in a fresh handle with identical
      // answers (build-once/query-many across sessions)
      val again = Graft.ragIndexOpen(spark, tmp)
        .search("Spark FILTER join; window?", k = 5).collect()
      assert(again.map(_.toSeq).toSeq == hits.map(_.toSeq).toSeq)
      // a non-64 encoder drops in end to end — built DURABLE so the
      // reopen path proves dim derives from the persisted codebook
      // (a reopen that trusted the default 64 would null the dense
      // scores against the 16-wide stored codes)
      val tmp16 = java.nio.file.Files
        .createTempDirectory("graft_ragidx16_").toString
      try {
        val idx16 = Graft.ragIndex(docs, "doc_id", "filepath", "lang",
          "text", dim = 16, stateRoot = Some(tmp16))
        assert(idx16.tables("enc").select(size(col("u16"))).collect()
          .forall(_.getInt(0) == 16))
        val h16 = idx16.search("spark join").collect()
        assert(h16.nonEmpty)
        val re16 = Graft.ragIndexOpen(spark, tmp16)
          .search("spark join").collect()
        assert(re16.map(_.toSeq).toSeq == h16.map(_.toSeq).toSeq)
        // dense tower really participated through the reopen: at
        // least one hit carries a non-null vector rank
        assert(re16.exists(r => Option(r.getAs[Any]("r_vec")).nonEmpty))
      } finally graft.Fs.deleteTree(tmp16)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("RagIndex tiers: sq8/pq/sq8_rerank serve from minted tier " +
      "layouts; rerank tier reproduces int16's hybrid answer; add() " +
      "invalidates tier layouts and the re-mint covers new content") {
    val spark = this.spark
    import spark.implicits._
    val docsA = Seq(
      (1L, "repo/docs/a.md", "en",
        "spark joins and windows explained with examples"),
      (2L, "repo/docs/c.md", "en",
        "filter pushdown and partition pruning for spark scans"))
      .toDF("doc_id", "filepath", "lang", "text")
    val docsB = Seq(
      (3L, "repo/docs/b.md", "en",
        "xylophone xylophone tuning guide for spark windows"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ragtier_").toString
    try {
      val idx = Graft.ragIndex(docsA, "doc_id", "filepath", "lang",
        "text", stateRoot = Some(tmp))
      val q = "spark windows filter"
      val h16 = idx.search(q, k = 5).collect()
      assert(h16.nonEmpty)
      assert(idx.search(q, k = 5, tier = "sq8").collect().nonEmpty)
      assert(idx.search(q, k = 5, tier = "pq").collect().nonEmpty)
      // the tier layouts minted next to the towers
      for (n <- Seq("enc_ivf_sq8", "sq.meta", "enc_ivf_pq", "pq.meta"))
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(tmp, n)), s"$n not minted")
      // sq8_rerank's over-fetched exact rerank reproduces the int16
      // dense ranking on a corpus the shortlist covers → identical
      // hybrid answer
      val hrr = idx.search(q, k = 5, tier = "sq8_rerank").collect()
      assert(hrr.map(_.toSeq).toSeq == h16.map(_.toSeq).toSeq)
      // growth invalidates the derived tier layouts...
      assert(idx.add(docsB, "doc_id", "filepath", "lang", "text") == 1L)
      for (n <- Seq("sq.meta", "pq.meta"))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(tmp, n)), s"$n survived add()")
      // ...and the re-minted tier serves the grown corpus ('xylophone'
      // exists only in the added doc)
      val zx = idx.search("xylophone", k = 3, tier = "sq8").collect()
      assert(zx.exists(_.getAs[Long]("chunk_id") / 1000000L == 3L))
    } finally graft.Fs.deleteTree(tmp)
  }

  test("RagIndex.add grows every tower bit-equal to a pinned-codebook " +
      "rebuild on the union corpus; re-add is a no-op; reopen serves " +
      "the grown index") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val docsA = Seq(
      (1L, "repo/docs/a.md", "en",
        "spark joins and windows explained with zanzibar examples"),
      (2L, "repo/src/a.py", "python", "def run(): spark filter job"))
      .toDF("doc_id", "filepath", "lang", "text")
    val docsB = Seq(
      (3L, "repo/docs/b.md", "en",
        "quokka quokka aggregation guide for spark windows"),
      (4L, "repo/img/x.png", "en", "never indexed"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ragadd_").toString
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_ragadd_full_").toString
    try {
      val idx = Graft.ragIndex(docsA, "doc_id", "filepath", "lang",
        "text", stateRoot = Some(tmp))
      assert(idx.add(docsB, "doc_id", "filepath", "lang", "text") == 1L)
      // idempotent growth: the registry guard drops a re-added batch
      assert(idx.add(docsB, "doc_id", "filepath", "lang", "text") == 0L)
      // the reference rebuild: the UNION corpus through the same
      // build under the grown root's PINNED codebook
      val cb = graft.streaming.Streams.loadCodebook(tmp).get
      Graft.ragNormalize(docsA.unionByName(docsB), "doc_id",
          "filepath", "lang", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        .write.mode("overwrite").parquet(s"$tmp2/routed")
      Pipeline.buildTowers(spark, tmp2, 200, 100,
        graft.operators.Embed.dim, Some(cb))
      // every serving tower is bit-equal, table for table
      def dump(root: String, name: String, keys: String*) =
        Pipeline.ragTablesAt(spark, root)(name)
          .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
      for ((tbl, keys) <- Seq(
          "tf_b" -> Seq("doc_id", "term"),
          "idf" -> Seq("term"),
          "stats" -> Seq("nd"),
          "chunks" -> Seq("chunk_id"),
          "enc_ivf" -> Seq("vec_id")))
        assert(dump(tmp, tbl, keys: _*) == dump(tmp2, tbl, keys: _*),
          s"$tbl drifted from the pinned full rebuild")
      // serving agrees end to end, and the ADDED content retrieves:
      // 'quokka' exists only in docsB
      val grown = idx.search("quokka windows", k = 5).collect()
      val full = Graft.ragIndexOpen(spark, tmp2)
        .search("quokka windows", k = 5).collect()
      assert(grown.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
      assert(grown.exists(_.getAs[Long]("chunk_id") / 1000000L == 3L))
      // ...and a fresh handle on the grown root serves identically
      val reopened = Graft.ragIndexOpen(spark, tmp)
        .search("quokka windows", k = 5).collect()
      assert(reopened.map(_.toSeq).toSeq == grown.map(_.toSeq).toSeq)
      // rebuild() (the torn-add repair) is a no-op on content
      idx.rebuild()
      val rebuilt = idx.search("quokka windows", k = 5).collect()
      assert(rebuilt.map(_.toSeq).toSeq == grown.map(_.toSeq).toSeq)
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(tmp2)
    }
  }

  test("RagIndex.remove deletes every trace bit-equal to a pinned-" +
      "codebook rebuild on the survivors; unknown ids no-op; tier " +
      "layouts invalidate; removed content stops retrieving") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val docsA = Seq(
      (1L, "repo/docs/a.md", "en",
        "spark joins and windows explained with zanzibar examples"),
      (2L, "repo/src/a.py", "python", "def run(): spark filter job"))
      .toDF("doc_id", "filepath", "lang", "text")
    val docsB = Seq(
      (3L, "repo/docs/b.md", "en",
        "quokka quokka aggregation guide for spark windows"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ragrm_").toString
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_ragrm_ref_").toString
    try {
      // build on the UNION, mint a tier layout, then delete docsB
      val idx = Graft.ragIndex(docsA.unionByName(docsB), "doc_id",
        "filepath", "lang", "text", stateRoot = Some(tmp))
      assert(idx.search("quokka", k = 3, tier = "sq8").collect()
        .nonEmpty)
      // physical pruning evidence: snapshot every serving-tower file,
      // compute the victims' term buckets / coarse lists, and demand
      // untouched partitions keep their files BYTE-IDENTICAL (same
      // path, size, mtime) after the delete
      def fileSnap(sub: String): Map[String, (Long, Long)] = {
        val base = java.nio.file.Paths.get(tmp, sub)
        val st = java.nio.file.Files.walk(base)
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .map(p => base.relativize(p).toString ->
            (java.nio.file.Files.size(p),
              java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toMap
        finally st.close()
      }
      val snapTfb = fileSnap("tf_b")
      val snapIvf = fileSnap("enc_ivf")
      val flatTables = Seq("routed", "chunks", "tf", "enc")
      val snapFlat = flatTables.map(n => n -> fileSnap(n)).toMap
      val graft.operators.Pipeline.TowersMeta(_, _, _, nDb, nLex, _) =
        graft.operators.Pipeline.towersMetaOf(tmp).get
      assert(nDb > 0, "fresh build must mint the bucketed layout")
      val vTerms = spark.read.parquet(s"$tmp/tf")
        .filter(col("chunk_id") / 1000000L === 3L)
        .select("term").distinct().collect().map(_.getString(0))
      val vBuckets = vTerms.map(tm => graft.operators.Search
        .termBucketOf(tm, nLex)).toSet
      val vCids = spark.read.parquet(s"$tmp/enc_ivf")
        .filter(col("vec_id") / 1000000L === 3L)
        .select("cid").distinct().collect().map(_.getInt(0)).toSet
      val vDbs = spark.range(1).select(graft.operators.Pipeline
          .docBucket(lit(3L), nDb).as("db"))
        .collect().map(_.getLong(0).toInt).toSet
      val vDbsLex = spark.range(1).select(graft.operators.Pipeline
          .docBucket(lit(3L),
            graft.operators.Pipeline.towersMetaOf(tmp).get.nTfbDb)
          .as("db"))
        .collect().map(_.getLong(0).toInt).toSet
      assert(idx.remove(Seq(3L, 999L)) == 1L) // unknown id ignored
      def partOf(rel: String): Option[Int] =
        "=(\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toInt)
      def dbOf(rel: String): Option[Int] =
        "db=(\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toInt)
      for ((rel, sig) <- fileSnap("tf_b")
           if partOf(rel).exists(b => !vBuckets.contains(b)) ||
             dbOf(rel).exists(b => !vDbsLex.contains(b)))
        assert(snapTfb.get(rel).contains(sig),
          s"untouched tf_b partition file rewrote: $rel")
      for ((rel, sig) <- fileSnap("enc_ivf")
           if partOf(rel).exists(c => !vCids.contains(c)))
        assert(snapIvf.get(rel).contains(sig),
          s"untouched enc_ivf partition file rewrote: $rel")
      // the round-16 claim: the FLAT artifacts prune too — only the
      // victims' doc buckets rewrite; every other bucket's files
      // stay byte-identical (path, size, mtime)
      for (n <- flatTables; (rel, sig) <- fileSnap(n)
           if dbOf(rel).exists(b => !vDbs.contains(b)))
        assert(snapFlat(n).get(rel).contains(sig),
          s"untouched $n doc-bucket file rewrote: $rel")
      assert(idx.remove(Seq(3L)) == 0L)       // re-remove no-ops
      // derived tier layouts invalidated by the delete
      for (n <- Seq("enc_ivf_sq8", "sq.meta"))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(tmp, n)), s"$n survived remove()")
      // the reference rebuild: the SURVIVING corpus through the same
      // build under the root's PINNED (union-trained) codebook
      val cb = graft.streaming.Streams.loadCodebook(tmp).get
      Graft.ragNormalize(docsA, "doc_id", "filepath", "lang", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        .write.mode("overwrite").parquet(s"$tmp2/routed")
      Pipeline.buildTowers(spark, tmp2, 200, 100,
        graft.operators.Embed.dim, Some(cb))
      def dump(root: String, name: String, keys: String*) =
        Pipeline.ragTablesAt(spark, root)(name)
          .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
      for ((tbl, keys) <- Seq(
          "routed" -> Seq("doc_id"),
          "tf_b" -> Seq("doc_id", "term"),
          "idf" -> Seq("term"),
          "stats" -> Seq("nd"),
          "chunks" -> Seq("chunk_id"),
          "tf" -> Seq("chunk_id", "term"),
          "enc" -> Seq("vec_id"),
          "enc_ivf" -> Seq("vec_id")))
        assert(dump(tmp, tbl, keys: _*) == dump(tmp2, tbl, keys: _*),
          s"$tbl drifted from the pinned survivors rebuild")
      // the deleted content no longer retrieves; serving matches the
      // survivors rebuild end to end
      val afterRm = idx.search("quokka windows", k = 5).collect()
      assert(!afterRm.exists(_.getAs[Long]("chunk_id") / 1000000L == 3L))
      val ref = Graft.ragIndexOpen(spark, tmp2)
        .search("quokka windows", k = 5).collect()
      assert(afterRm.map(_.toSeq).toSeq == ref.map(_.toSeq).toSeq)
      // rebuild() (the torn-remove repair) is a no-op on content AND
      // clears stale tier layouts: a torn remove dies before its own
      // tier-delete step, so the repair must not leave enc_ivf_sq8
      // serving the forgotten doc
      assert(idx.search("spark", k = 3, tier = "sq8").collect()
        .nonEmpty) // re-mint a tier on the post-remove corpus
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, "sq.meta")))
      idx.rebuild()
      for (n <- Seq("enc_ivf_sq8", "sq.meta"))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(tmp, n)), s"$n survived rebuild()")
      val rebuilt = idx.search("quokka windows", k = 5).collect()
      assert(rebuilt.map(_.toSeq).toSeq == afterRm.map(_.toSeq).toSeq)
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(tmp2)
    }
  }

  test("RagIndex.packContext: budget prefix, per-doc diversity cap, " +
      "exact dl token costs") {
    val spark = this.spark
    import spark.implicits._
    // one doc long enough to chunk several times (so maxPerDoc can
    // bind) + two short distinct docs
    val long = (1 to 60).map(i => s"spark window w$i").mkString(" ")
    val docs = Seq(
      (1L, "repo/docs/a.md", "en", long),
      (2L, "repo/docs/b.md", "en", "spark window basics and examples"),
      (5L, "repo/docs/c.md", "en", "unrelated berry picking notes"))
      .toDF("doc_id", "filepath", "lang", "text")
    val idx = Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text")
    val rows = idx.packContext(nQueries = 6, topT = 3, kCand = 6,
      maxPerDoc = 2, budget = 90).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    for ((q, rs) <- byQ) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      // ranks contiguous from 1, cum_tokens is the running dl sum
      assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
        (1L to sorted.length.toLong))
      val cums = sorted.scanLeft(0L)(_ + _.getAs[Long]("n_tokens")).tail
      assert(sorted.map(_.getAs[Long]("cum_tokens")).toSeq ==
        cums.toSeq, s"qid=$q cum drift")
      assert(cums.last <= 90L, s"qid=$q busted the budget")
      // diversity: at most 2 chunks of any source doc
      assert(sorted.groupBy(_.getAs[Long]("src_doc"))
        .values.forall(_.length <= 2), s"qid=$q over maxPerDoc")
      // src_doc is chunk_id's doc component
      assert(sorted.forall(r => r.getAs[Long]("src_doc") ==
        r.getAs[Long]("chunk_id") / 1000000L))
    }
    // the long doc produced >2 scoring chunks for its own query, so
    // the cap BOUND somewhere (the drill exercises the branch)
    assert(byQ.values.exists(_.length >= 2))
  }

  test("removeFromTowers property: seeded random victim subsets each " +
      "converge bit-equal to the pinned rebuild on their survivors") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val words = Seq("spark", "join", "window", "filter", "group",
      "quokka", "zanzibar", "berry", "meadow", "harbor", "lantern")
    val docs = (1L to 8L).map { i =>
      val ext = Seq("md", "py", "ipynb")((i % 3).toInt)
      val txt = (0 until 12).map(j =>
        words(((i * 7 + j * 3) % words.length).toInt)).mkString(" ")
      (i, s"repo/docs/f$i.$ext", "en", txt)
    }.toDF("doc_id", "filepath", "lang", "text")
    val tmp0 = java.nio.file.Files
      .createTempDirectory("graft_rmprop_base_").toString
    Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text",
      stateRoot = Some(tmp0))
    val cb = graft.streaming.Streams.loadCodebook(tmp0).get
    def dump(root: String, name: String, keys: String*) =
      Pipeline.ragTablesAt(spark, root)(name)
        .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val victims = rnd.shuffle((1L to 8L).toList)
        .take(1 + rnd.nextInt(6)).sorted
      val work = java.nio.file.Files
        .createTempDirectory(s"graft_rmprop_w$trial").toString
      val ref = java.nio.file.Files
        .createTempDirectory(s"graft_rmprop_r$trial").toString
      try {
        Pipeline.cloneRoot(spark, tmp0, work)
        Pipeline.removeFromTowers(spark, work, victims.toDF("doc_id"))
        Graft.ragNormalize(
            docs.filter(!col("doc_id").isin(victims: _*)),
            "doc_id", "filepath", "lang", "text")
          .select(col("doc_id").cast("long").as("doc_id"), col("body"))
          .write.mode("overwrite").parquet(s"$ref/routed")
        Pipeline.buildTowers(spark, ref, 200, 100,
          graft.operators.Embed.dim, Some(cb))
        for ((tbl, keys) <- Seq(
            "routed" -> Seq("doc_id"),
            "tf_b" -> Seq("doc_id", "term"),
            "idf" -> Seq("term"),
            "stats" -> Seq("nd"),
            "chunks" -> Seq("chunk_id"),
            "enc_ivf" -> Seq("vec_id")))
          assert(dump(work, tbl, keys: _*) == dump(ref, tbl, keys: _*),
            s"trial $trial victims=$victims: $tbl drifted")
      } finally {
        graft.Fs.deleteTree(work)
        graft.Fs.deleteTree(ref)
      }
    }
    graft.Fs.deleteTree(tmp0)
  }

  test("ragTablesAt memoizes per head commit: an unchanged root reuses " +
      "the resolved tables (no re-discovery), every wave's commit moves " +
      "the head and re-resolves — a memoized FileIndex can never serve " +
      "a mutated root") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val docs = ragDrillDocs(1L to 8L)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_gen_").toString
    try {
      Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text",
        stateRoot = Some(tmp))
      // a completed build is the root's one commit
      val log = graft.sources.TableLog.open(tmp)
      assert(log.versions == Seq(0L))
      val t1 = Pipeline.ragTablesAt(spark, tmp)
      val t2 = Pipeline.ragTablesAt(spark, tmp)
      // same head -> the SAME resolved map (reference equality: the
      // tables resolved once, not per serve)
      assert(t1 eq t2)
      val before = t1("routed").count()
      assert(Pipeline.removeFromTowers(spark, tmp,
        Seq(1L).toDF("doc_id")) == 1L)
      // the wave's one commit moved the head, so the memo re-resolves
      // and the fresh tables see the shrunk corpus
      assert(log.versions == Seq(0L, 1L))
      val t3 = Pipeline.ragTablesAt(spark, tmp)
      assert(!(t3 eq t1))
      assert(t3("routed").count() == before - 1)
      // a root with no log (foreign/legacy) never memoizes
      val flat = java.nio.file.Files
        .createTempDirectory("graft_gen_flat_").toString
      try {
        Pipeline.cloneRoot(spark, tmp, flat)
        graft.Fs.deleteTree(s"$flat/_log")
        val f1 = Pipeline.ragTablesAt(spark, flat)
        val f2 = Pipeline.ragTablesAt(spark, flat)
        assert(!(f1 eq f2))
        assert(f1("routed").count() == before - 1)
      } finally graft.Fs.deleteTree(flat)
    } finally graft.Fs.deleteTree(tmp)
  }

  /** Every parquet file under the root's table dirs, and whether a
    * wave dir is left.
    */
  private def onDisk(root: String): (Seq[String], Boolean) =
    (Seq("routed", "chunks", "tf", "tf_b", "idf", "stats", "enc", "enc_ivf")
      .flatMap(t => graft.Fs.listRec(s"$root/$t", ".parquet")).map(_.path),
      graft.Fs.stat(s"$root/_wave").isDefined)

  test("no wave dir and no file outside the snapshot survives a success, " +
      "a no-op or a failed wave") {
    import graft.operators.Pipeline
    val root = java.nio.file.Files
      .createTempDirectory("graft_wave_clean_").toString
    def assertClean(what: String): Unit = {
      val (files, waveLeft) = onDisk(root)
      val held = Pipeline.snapshotOf(root).files.toSet
      assert(!waveLeft, s"$what left its wave dir")
      assert(files.forall(held), s"$what left ${files.filterNot(held)}")
    }
    try {
      val idx = Graft.ragIndex(ragDrillDocs(1L to 4L), "doc_id", "filepath",
        "lang", "text", stateRoot = Some(root))
      val keys0 = Staging.scratchKeys
      def add(ids: Seq[Long]): Long = idx.add(ragDrillDocs(ids), "doc_id",
        "filepath", "lang", "text")
      assertClean("the build")
      for (round <- 0 until 2) {
        val lo = 10L + 10 * round
        assert(add(lo to lo + 2) == 3L)
        assertClean(s"round $round: an add")
        assert(add(lo to lo + 2) == 0L) // already indexed: the no-op exit
        assertClean(s"round $round: a no-op add")
        assert(idx.remove(Seq(lo)) == 1L)
        assertClean(s"round $round: a remove")
        assert(idx.remove(Seq(999L)) == 0L) // unknown id: the no-op exit
        assertClean(s"round $round: a no-op remove")
      }
      // removing every doc fails after its victims resolved
      val all = idx.tables("routed").select("doc_id").as[Long].collect().toSeq
      intercept[IllegalArgumentException](idx.remove(all))
      assertClean("a failed remove")
      // a wave that fails after moving files in, before its commit: its
      // dir goes at once, its moved files at the next mutation entry
      Pipeline.publishFault = t => if (t == "tf") sys.error("drill")
      try intercept[RuntimeException](add(50L to 51L))
      finally Pipeline.publishFault = _ => ()
      assert(!onDisk(root)._2, "a failed wave left its wave dir")
      assert(idx.remove(Seq(999L)) == 0L)
      assertClean("the entry after a failed wave")
      assert(Staging.scratchKeys == keys0, "a wave kept a scratch dir")
    } finally graft.Fs.deleteTree(root)
  }

  test("RagIndex lifecycle: grow then shrink converges to a pinned-" +
      "codebook build on the net corpus; packContextFor serves " +
      "caller queries through the same pack discipline") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val docsA = Seq(
      (1L, "repo/docs/a.md", "en",
        "spark joins and windows explained with zanzibar examples"),
      (2L, "repo/src/a.py", "python", "def run(): spark filter job"))
      .toDF("doc_id", "filepath", "lang", "text")
    val docsB = Seq(
      (3L, "repo/docs/b.md", "en",
        "quokka quokka aggregation guide for spark windows"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_raglife_").toString
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_raglife_ref_").toString
    try {
      // build on A, GROW by B, SHRINK by doc 1: net corpus = {2, 3}.
      // The grow batch carries doc 3 TWICE — in-batch duplicates must
      // land once (the downstream bit-equality against the net-corpus
      // rebuild proves no tower doubled a row)
      val idx = Graft.ragIndex(docsA, "doc_id", "filepath", "lang",
        "text", stateRoot = Some(tmp))
      // INTERLEAVED serving + tier re-mint at every lifecycle step —
      // the stale-tier bug class (a mutation leaving a derived code
      // layout serving the pre-mutation corpus) only shows up when
      // searches run BETWEEN mutations, not after the dust settles
      def tierIds(i: Graft.RagIndex): Seq[Long] =
        i.search("spark windows", k = 5, tier = "sq8").collect()
          .map(_.getAs[Long]("chunk_id")).toSeq
      val served0 = tierIds(idx) // mints the sq8 tier on corpus A
      assert(served0.nonEmpty)
      assert(idx.add(docsB.unionByName(docsB), "doc_id", "filepath",
        "lang", "text") == 1L)
      // the add invalidated the tier; this re-mint serves A+B — the
      // grown doc 3 must retrieve through the re-minted tier
      val served1 = idx.search("quokka", k = 5, tier = "sq8")
        .collect().map(_.getAs[Long]("chunk_id")).toSeq
      assert(served1.exists(_ / 1000000L == 3L),
        s"grown doc missing from the re-minted sq8 tier: $served1")
      assert(idx.remove(Seq(1L)) == 1L)
      // the remove invalidated it again; the re-mint serves {2, 3}
      val served2 = tierIds(idx)
      assert(!served2.exists(_ / 1000000L == 1L),
        s"removed doc served from the re-minted sq8 tier: $served2")
      val cb = graft.streaming.Streams.loadCodebook(tmp).get
      Graft.ragNormalize(
          docsA.filter(col("doc_id") =!= 1L).unionByName(docsB),
          "doc_id", "filepath", "lang", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        .write.mode("overwrite").parquet(s"$tmp2/routed")
      Pipeline.buildTowers(spark, tmp2, 200, 100,
        graft.operators.Embed.dim, Some(cb))
      def dump(root: String, name: String, keys: String*) =
        Pipeline.ragTablesAt(spark, root)(name)
          .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
      for ((tbl, keys) <- Seq(
          "tf_b" -> Seq("doc_id", "term"),
          "idf" -> Seq("term"),
          "stats" -> Seq("nd"),
          "enc_ivf" -> Seq("vec_id")))
        assert(dump(tmp, tbl, keys: _*) == dump(tmp2, tbl, keys: _*),
          s"$tbl drifted after grow+shrink vs the net-corpus rebuild")
      // tier serving after the interleaved grow+shrink equals the
      // net-corpus rebuild's tier serving (same corpus + same pinned
      // codebook => same SQ model => bit-equal answers), and the
      // default hybrid serve agrees too
      val net = Graft.ragIndexOpen(spark, tmp2)
      assert(tierIds(idx) == tierIds(net),
        "sq8 tier drifted from the net-corpus rebuild's")
      assert(idx.search("spark windows", k = 5).collect()
          .map(_.toSeq).toSeq ==
        net.search("spark windows", k = 5).collect()
          .map(_.toSeq).toSeq,
        "hybrid serve drifted from the net-corpus rebuild's")
      // rebuild() (compaction/repair) changes NO answer and re-mints
      // the tier cleanly: sq.meta exists now, is dropped by the
      // rebuild, and the post-rebuild re-mint serves identically
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, "sq.meta")))
      idx.rebuild()
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, "sq.meta")), "stale sq.meta")
      assert(tierIds(idx) == tierIds(net),
        "post-rebuild sq8 tier drifted")
      // caller-query packing over the surviving corpus
      val rows = idx.packContextFor(
        Seq("quokka windows", "spark filter"), budget = 60).collect()
      assert(rows.nonEmpty)
      assert(rows.map(_.getAs[Long]("qid")).distinct.sorted.toSeq
        .forall(Seq(0L, 1L).contains))
      rows.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
        val sorted = rs.sortBy(_.getAs[Long]("rank"))
        assert(sorted.map(_.getAs[Long]("rank")).toSeq ==
          (1L to sorted.length.toLong))
        assert(sorted.last.getAs[Long]("cum_tokens") <= 60L)
      }
      // the removed doc's chunks never enter any packed context
      assert(!rows.exists(_.getAs[Long]("src_doc") == 1L))
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(tmp2)
    }
  }

  test("legacy flat root: first mutation mints the bucketed layout " +
      "(one rebuild), then deletes bit-equal to the pinned rebuild " +
      "on the survivors; a malformed towers.meta fails loudly") {
    import graft.operators.Pipeline
    val spark = this.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "repo/docs/a.md", "en",
        "spark joins and windows explained with zanzibar examples"),
      (2L, "repo/src/a.py", "python", "def run(): spark filter job"),
      (3L, "repo/docs/b.md", "en",
        "quokka quokka aggregation guide for spark windows"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_legacy_").toString
    val tmp2 = java.nio.file.Files
      .createTempDirectory("graft_legacy_ref_").toString
    try {
      Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text",
        stateRoot = Some(tmp))
      val cb = graft.streaming.Streams.loadCodebook(tmp).get
      // DOWNGRADE the root to the pre-round-16 legacy layout: flat
      // (un-bucketed) artifacts, tb-only postings, 3-line meta, a
      // root-level codebook.meta and no log — the shape a durable root
      // built before the layout knobs existed still has on disk
      def rewriteFlat(n: String, partCols: Seq[String]): Unit = {
        val df = spark.read.parquet(s"$tmp/$n").drop("db")
        val t = s"$tmp/${n}__legacy"
        if (partCols.isEmpty) df.write.mode("overwrite").parquet(t)
        else df.repartition(partCols.map(col): _*)
          .write.mode("overwrite").partitionBy(partCols: _*).parquet(t)
        graft.Fs.deleteTree(s"$tmp/$n")
        java.nio.file.Files.move(java.nio.file.Paths.get(t),
          java.nio.file.Paths.get(tmp, n))
      }
      for (n <- Seq("routed", "chunks", "tf", "enc")) rewriteFlat(n, Nil)
      rewriteFlat("tf_b", Seq("tb"))
      graft.Fs.deleteTree(s"$tmp/_log")
      graft.Fs.deleteTree(s"$tmp/codebook")
      graft.streaming.Streams.saveCodebook(tmp, cb)
      val metaP = java.nio.file.Paths.get(tmp, "towers.meta")
      val lines = Seq("200", "100", graft.operators.Embed.dim.toString, "16")
      java.nio.file.Files.write(metaP,
        (lines.take(3).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(Pipeline.towersMetaOf(tmp).get.nDb == 0,
        "downgrade failed to produce a legacy meta")
      // a 4-line meta is CORRUPT (neither legacy nor bucketed) and
      // must fail loudly, never silently serve as a legacy layout
      java.nio.file.Files.write(metaP,
        (lines.take(4).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assertThrows[RuntimeException](Pipeline.towersMetaOf(tmp))
      java.nio.file.Files.write(metaP,
        (lines.take(3).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first mutation on the legacy root: the delete auto-rebuilds
      // under the root's own pinned codebook (minting the layout),
      // then erases victims-coupled like any bucketed root
      assert(Pipeline.removeFromTowers(spark, tmp,
        Seq(1L).toDF("doc_id")) == 1L)
      val minted = Pipeline.towersMetaOf(tmp).get
      assert(minted.nDb > 0,
        "first mutation must mint the bucketed layout")
      // the reference: survivors through the same build under the
      // SAME pinned codebook
      Graft.ragNormalize(docs.filter(col("doc_id") =!= 1L), "doc_id",
          "filepath", "lang", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("body"))
        .write.mode("overwrite").parquet(s"$tmp2/routed")
      Pipeline.buildTowers(spark, tmp2, 200, 100,
        graft.operators.Embed.dim, Some(cb))
      def dump(root: String, name: String, keys: String*) =
        Pipeline.ragTablesAt(spark, root)(name)
          .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq
      for ((tbl, keys) <- Seq(
          "routed" -> Seq("doc_id"),
          "tf_b" -> Seq("doc_id", "term"),
          "idf" -> Seq("term"),
          "stats" -> Seq("nd"),
          "chunks" -> Seq("chunk_id"),
          "enc_ivf" -> Seq("vec_id")))
        assert(dump(tmp, tbl, keys: _*) == dump(tmp2, tbl, keys: _*),
          s"$tbl drifted from the pinned survivors rebuild")
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(tmp2)
    }
  }

  test("dedupKeepBest on an ad-hoc corpus: quality argmax wins, " +
      "singletons survive, cover is exact") {
    // two near-identical docs (high shingle Jaccard: 87 shared
    // distinct words + a short fresh tail) where the LONGER copy must
    // win on quality despite the HIGHER doc id, plus a singleton
    val base = "the and of " + (1 to 87).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base),
      (20L, base + " a is plus extra detail words marsh meadow route" +
        " berry stone river"),
      (30L, "completely unrelated content about spark plans"))
      .toDF("id", "body")
    val kept = Graft.dedupKeepBest(df = docs, idCol = "id",
      textCol = "body", sorted = true).collect()
    assert(kept.map(_.getAs[Long]("group_size")).sum == 3L)
    val byDoc = kept.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the dup group collapsed to ONE survivor — the higher-quality
    // (longer) copy, not the min id — and the singleton kept itself
    assert(!byDoc.contains(10L) && byDoc.contains(20L))
    assert(byDoc(20L).getAs[Long]("group_size") == 2L)
    assert(byDoc(20L).getAs[Long]("grp") == 10L)
    assert(byDoc(30L).getAs[Long]("group_size") == 1L)
  }

  test("perplexityBuckets on an ad-hoc corpus: repetitive text heads, " +
      "odd text tails") {
    // 9 docs from a shared template (low ppl under the corpus's own
    // LM) + 3 with scrambled word order (high ppl)
    val normal = (1 to 9).map(i =>
      (i.toLong, s"the cat sat on the mat and the dog sat on the rug $i"))
    val odd = (10 to 12).map(i =>
      (i.toLong, s"mat$i rug cat on dog sat the on sat"))
    val docs = (normal ++ odd).toDF("id", "body")
    val rows = Graft.perplexityBuckets(docs, "id", "body",
      sorted = true).collect()
    assert(rows.length == 12)
    val bucketOf = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    // every scrambled doc lands in tail, no template doc does
    (10L to 12L).foreach(i => assert(bucketOf(i) == "tail", s"doc $i"))
    (1L to 9L).foreach(i => assert(bucketOf(i) != "tail", s"doc $i"))
  }

  test("mixtureWeights on an ad-hoc corpus: sqrt temperature " +
      "up-samples the small source, caps bind") {
    val docs = (
      (1 to 80).map(i => (s"big", s"word " * 50 + i)) ++
        (1 to 5).map(i => (s"small", s"word " * 50 + i)))
      .toDF("src", "body")
    val rows = Graft.mixtureWeights(docs, "src", "body").collect()
    val by = rows.map(r => r.getAs[String]("source") -> r).toMap
    val wBig = by("big").getAs[Double]("weight")
    val wSmall = by("small").getAs[Double]("weight")
    assert(math.abs(wBig + wSmall - 1.0) < 1e-4)
    // √-temperature: small's weight share ≫ its token share (5/85),
    // big's below its share
    val tokShareSmall = by("small").getAs[Long]("n_tok").toDouble /
      (by("small").getAs[Long]("n_tok") + by("big").getAs[Long]("n_tok"))
    assert(wSmall > 2 * tokShareSmall)
    // the epoch cap binds for the tiny source (it can't fill its
    // allocation without repeating more than maxEpochs times)
    assert(by("small").getAs[Double]("epochs") <= 4.0)
    assert(by("big").getAs[Double]("epochs") < 1.0)
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc_tok") <=
        (r.getAs[Long]("n_tok") * 4.0).toLong)
    }
  }

  test("patchBudget takes a real decoder's (w,h) projections: a toy " +
      "header parse drops in and the budgeting math is unchanged") {
    val s = spark
    import s.implicits._
    val in = Seq((1L, "IMG28x14"), (2L, "IMG1400x1400"),
      (3L, "IMG13x13")).toDF("id", "hdr")
    val w = regexp_extract(col("hdr"), "IMG(\\d+)x(\\d+)", 1).cast("long")
    val h = regexp_extract(col("hdr"), "IMG(\\d+)x(\\d+)", 2).cast("long")
    val out = Graft.patchBudget(in, "id", w, h, patch = 14, budget = 100)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("patches_raw"), r.getAs[Long]("w_fit"),
          r.getAs[Long]("h_fit"), r.getAs[Long]("img_tokens")))).toMap
    // in-budget image: untouched
    assert(out(1L) == ((2L, 28L, 14L, 2L)))
    // 10000 raw patches, budget 100 → s = 0.1, dims snap to 140
    assert(out(2L) == ((10000L, 140L, 140L, 100L)))
    // sub-patch image snaps UP to one patch
    assert(out(3L) == ((1L, 14L, 14L, 1L)))
    // and the budget bound holds by construction
    out.values.foreach { case (_, _, _, tok) => assert(tok <= 100L) }
  }

  test("ragNormalize routes REAL content by path: frontmatter strips " +
      "from md, ipynb parses to markdown, code rewrites, skips drop") {
    val s = spark
    import s.implicits._
    val nb = """{"cells":[{"cell_type":"markdown","source":"# hi"},""" +
      """{"cell_type":"code","source":"x = 1"},""" +
      """{"cell_type":"raw","source":"drop-me"}]}"""
    val in = Seq(
      (1L, "repo/guide.md", "en", "---\ntitle: t\n---\nguide body"),
      (2L, "repo/nb.ipynb", "en", nb),
      (3L, "repo/tool.py", "en", "The quick brown fox jumps"),
      (4L, "repo/.hidden.md", "en", "never"),
      (5L, "repo/img.png", "en", "never"),
      (6L, "repo/dir/", "en", "never")
    ).toDF("id", "path", "lang", "text")
    val out = Graft.ragNormalize(in, "id", "path", "lang", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "classify gate drifted")
    assert(out(1L) == "guide body")
    assert(out(2L) == "# hi\n\n```python\nx = 1\n```")
    assert(out(3L) == "# en\nthe quick brown fox jumps\n(rewritten)")
  }

  // shared by the wave drills below
  private def ragDrillDocs(ids: Seq[Long]) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"repo/docs/d$i.md", "en",
      s"spark windows guide $i " +
        (if (i == ids.max) "zanzibar zanzibar special content"
         else s"meadow harbor lantern w$i"))).toDF(
      "doc_id", "filepath", "lang", "text")
  }

  private def dumpTables(root: String): Map[String, Seq[Seq[Any]]] = {
    import graft.operators.Pipeline
    (for ((tbl, keys) <- Seq(
        "routed" -> Seq("doc_id"),
        "tf_b" -> Seq("doc_id", "term"),
        "idf" -> Seq("term"),
        "stats" -> Seq("nd"),
        "chunks" -> Seq("chunk_id"),
        "tf" -> Seq("chunk_id", "term"),
        "enc" -> Seq("vec_id"),
        "enc_ivf" -> Seq("vec_id")))
      yield tbl -> Pipeline.ragTablesAt(spark, root)(tbl)
        .orderBy(keys.map(col): _*).collect().map(_.toSeq).toSeq).toMap
  }

  /** The reads a failed wave must leave as they were: every table,
    * hits on the int16 and sq8 tiers, the layout and the codebook.
    */
  private def reads(root: String): Seq[Any] = {
    import graft.operators.Pipeline
    val idx = Graft.ragIndexOpen(spark, root)
    Seq(dumpTables(root), Pipeline.towersMetaOf(root),
      graft.streaming.Streams.loadCodebook(root).get.values.toSeq) ++
      Seq("int16", "sq8").map(t => idx.search("spark windows zanzibar",
        k = 8, tier = t).collect().map(_.toSeq).toSeq)
  }

  /** Run `wave` with the fault seam failing it after `routed`, `chunks`
    * and `tf` moved in, then check what the drills share: every read is
    * the pre-wave root's, the moved files are on disk but outside the
    * snapshot, and the failure made no commit.
    */
  private def failAfterLanding(root: String)(wave: => Any): Unit = {
    import graft.operators.Pipeline
    val log = graft.sources.TableLog.open(root)
    val (v0, before) = (log.latestVersion, reads(root))
    Pipeline.publishFault = t => if (t == "tf") sys.error("drill: crash")
    try assert(intercept[RuntimeException](wave).getMessage.contains("drill"))
    finally Pipeline.publishFault = _ => ()
    assert(log.latestVersion == v0, "a failed wave committed")
    val held = Pipeline.snapshotOf(root).files.toSet
    assert(onDisk(root)._1.exists(f => !held(f)),
      "the drill failed before any file landed")
    assert(reads(root) == before, "a failed wave changed a read")
  }

  /** After the retry: no file outside the snapshot, and the root equals
    * `ref` table for table and hit for hit.
    */
  private def assertRetried(root: String, ref: String): Unit = {
    val (files, waveLeft) = onDisk(root)
    val held = graft.operators.Pipeline.snapshotOf(root).files.toSet
    assert(!waveLeft && files.forall(held),
      s"the retry left ${files.filterNot(held)}")
    val (got, want) = (dumpTables(root), dumpTables(ref))
    for (tbl <- got.keys)
      assert(got(tbl) == want(tbl), s"$tbl drifted from the reference rebuild")
    val q = "spark windows zanzibar"
    assert(Graft.ragIndexOpen(spark, root).search(q, k = 8).collect().toSeq ==
      Graft.ragIndexOpen(spark, ref).search(q, k = 8).collect().toSeq)
  }

  /** The reference: `docs` through the build under `root`'s pinned
    * codebook, at a fresh root.
    */
  private def pinnedRebuild(root: String, docs: org.apache.spark.sql.DataFrame,
      ref: String): Unit = {
    val cb = graft.streaming.Streams.loadCodebook(root).get
    Graft.ragNormalize(docs, "doc_id", "filepath", "lang", "text")
      .select(col("doc_id").cast("long").as("doc_id"), col("body"))
      .write.mode("overwrite").parquet(s"$ref/routed")
    graft.operators.Pipeline.buildTowers(spark, ref, 200, 100,
      graft.operators.Embed.dim, Some(cb))
  }

  test("an add or a rebuild that fails after landing some tables, " +
      "before its commit, serves the pre-wave root; the next entry " +
      "sweeps its files; the retry equals the pinned rebuild; each " +
      "wave is one commit and the add cadence's compaction bounds " +
      "per-dir file counts") {
    import graft.operators.Pipeline
    val docs = ragDrillDocs(1L to 6L)
    val grown = ragDrillDocs(Seq(7L, 8L))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_crash_add_").toString
    val ref = java.nio.file.Files
      .createTempDirectory("graft_crash_add_ref_").toString
    try {
      val idx = Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text",
        stateRoot = Some(tmp))
      val log = graft.sources.TableLog.open(tmp)
      def add(d: org.apache.spark.sql.DataFrame): Long =
        idx.add(d, "doc_id", "filepath", "lang", "text")
      failAfterLanding(tmp)(add(grown))
      assert(add(grown) == 2L)
      assert(log.versions == Seq(0L, 1L), "the add is not one commit")
      pinnedRebuild(tmp, docs.unionByName(grown), ref)
      assertRetried(tmp, ref)
      // rebuild: same corpus, same pinned codebook, same answers
      failAfterLanding(tmp)(idx.rebuild())
      idx.rebuild()
      assert(log.versions == Seq(0L, 1L, 2L), "the rebuild is not one commit")
      assertRetried(tmp, ref)
      // COMPACTION BOUND: 12 single-doc add waves all hash into few
      // buckets; the threshold fold keeps every committed routed dir at
      // most 8 files while the registry count tracks every add, and a
      // fold is one commit of its own
      for (i <- 10L to 21L)
        assert(add(ragDrillDocs(Seq(i))) == 1L)
      val parts = Pipeline.snapshotOf(tmp).partsOf("routed")
      assert(parts.values.map(_.size).max <= 8,
        s"add-cadence fragmentation unbounded: ${parts.values.map(_.size).max}")
      assert(log.versions.size > 3 + 12, "no compaction commit ran")
      assert(spark.read.parquet(s"$tmp/routed").count() == 20L)
      val v = log.latestVersion
      Pipeline.compactTowers(spark, tmp, maxFilesPerDir = 1)
      assert(log.latestVersion == v.map(_ + 1L),
        "a compaction is not one commit")
      assert(Pipeline.snapshotOf(tmp).partsOf("routed").values
        .forall(_.size == 1))
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(ref)
    }
  }

  test("a remove that fails after landing some tables, before its " +
      "commit, serves the pre-wave root with its victims; the retry " +
      "removes them, a fully-emptied bucket leaves the snapshot, and " +
      "all eight tables equal the pinned survivors rebuild") {
    import graft.operators.Pipeline
    val docs = ragDrillDocs(1L to 10L)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_crash_rm_").toString
    val ref = java.nio.file.Files
      .createTempDirectory("graft_crash_rm_ref_").toString
    try {
      val idx = Graft.ragIndex(docs, "doc_id", "filepath", "lang",
        "text", stateRoot = Some(tmp))
      // victims: the zanzibar doc (10, served by the drill's query) and
      // a doc ALONE in its routed bucket, so the wave fully empties a
      // partition
      val byDb = idx.tables("routed").select("doc_id")
        .withColumn("db", Pipeline.docBucket(col("doc_id"),
          Pipeline.towersMetaOf(tmp).get.nDb))
        .collect().groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)))
      val (vDb, alone) = byDb.find { case (_, ids) =>
        ids.length == 1 && ids.head != 10L }.getOrElse(
        fail("no singleton bucket among 10 docs — widen the id range"))
      val victims = Seq(alone.head, 10L)
      def served(): Set[Long] = idx.search("spark windows zanzibar", k = 20)
        .collect().map(_.getAs[Long]("chunk_id") / 1000000L).toSet
      assert(served().contains(10L))
      failAfterLanding(tmp)(idx.remove(victims))
      assert(served().contains(10L), "a failed remove already forgot")
      assert(idx.remove(victims) == 2L)
      assert(graft.sources.TableLog.open(tmp).versions == Seq(0L, 1L),
        "the remove is not one commit")
      assert(!served().exists(victims.contains))
      assert(!Pipeline.snapshotOf(tmp).partsOf("routed").contains(s"db=$vDb"),
        "the emptied bucket still holds committed files")
      pinnedRebuild(tmp, docs.filter(!col("doc_id").isin(victims: _*)), ref)
      assertRetried(tmp, ref)
    } finally {
      graft.Fs.deleteTree(tmp)
      graft.Fs.deleteTree(ref)
    }
  }

  test("a tier re-minted after a remove wave is what the next snapshot " +
      "serves: a new frame, and no removed id is returned on sq8 or pq") {
    import graft.operators.Pipeline
    val docs = (1L to 8L).map(i => (i, s"repo/docs/d$i.md", "en",
        s"uniq$i spark windows joins filter pushdown scans tuning guide"))
      .toDF("doc_id", "filepath", "lang", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_tierwave_").toString
    try {
      val idx = Graft.ragIndex(docs, "doc_id", "filepath", "lang", "text",
        stateRoot = Some(tmp))
      val vic = 3L
      val tiers = Seq("sq8", "pq", "sq8_rerank", "pq_rerank")
      def served(tier: String): Set[Long] =
        idx.search(s"uniq$vic spark windows", k = 8, tier = tier).collect()
          .map(_.getAs[Long]("chunk_id") / 1000000L).toSet
      for (t <- tiers) assert(served(t).contains(vic), s"$t misses doc $vic")
      val snap0 = Pipeline.servedAt(spark, tmp)
      val (sq0, pq0) = (snap0.sq8, snap0.pq)
      val warm = Pipeline.servedAt(spark, tmp)
      assert((warm.sq8 eq sq0) && (warm.pq eq pq0),
        "one generation served two tier instances")
      assert(idx.remove(Seq(vic)) == 1L)
      for (n <- Seq("sq.meta", "pq.meta"))
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, n)),
          s"$n survived remove()")
      val snap1 = Pipeline.servedAt(spark, tmp)
      assert(!(snap1 eq snap0))
      val mints0 = graft.Registries.gen
      // two concurrent first searches of the new generation mint each
      // tier once and share it
      val first = graft.Concurrent.settleAll[(Pipeline.Sq8Tier, Pipeline.PqTier)](spark)(Seq.fill(2)(
        "tier-spec: first search" -> (() => (snap1.sq8, snap1.pq))))
      assert((first(0)._1 eq first(1)._1) && (first(0)._2 eq first(1)._2))
      assert(graft.Registries.gen == mints0 + 2, "a tier minted more than once")
      val (sq1, pq1) = first.head
      assert(!(sq1.frame eq sq0.frame) && !(pq1.frame eq pq0.frame),
        "the new generation serves the pre-remove tier frame")
      val survivors = snap1.tables("enc_ivf").count()
      for ((t, f) <- Seq("sq8" -> sq1.frame, "pq" -> pq1.frame)) {
        val ids = f.select("vec_id").as[Long].collect().map(_ / 1000000L)
        assert(ids.length == survivors, s"$t tier does not cover the survivors")
        assert(!ids.contains(vic), s"$t tier still holds doc $vic")
      }
      for (t <- tiers) assert(!served(t).contains(vic), s"$t served removed doc $vic")
    } finally graft.Fs.deleteTree(tmp)
  }
}
