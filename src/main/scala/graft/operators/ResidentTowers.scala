package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline.{ServedTowers, labeled, rankedBefore}

/** One committed towers snapshot's serving layouts held on the driver
  * in primitive arrays, so a hybrid search, a context pack and a
  * self-retrieval eval answer with no Spark job: the BM25 postings by
  * term, the IVF lists by `cid`, and, on a tier's first use, its sq8
  * codes or pq code tuples. Each layout loads by one labelled collect
  * on first use; the head commit that keys [[Pipeline.servedAt]]'s
  * memo is also this copy's invalidation, since every wave's commit
  * mints a new snapshot.
  *
  * Every score is the Spark chain's own arithmetic in its own order:
  * BM25 sums [[Search.bm25Contrib]] per doc and rounds by Spark's
  * `Round` (one scorer serves search, pack and eval); the int16 tower
  * is the exact long dot; the sq8 and pq estimates fold left to right
  * and round by floor(x·1e4 + 0.5)/1e4; a rerank tier shortlists and
  * then takes the exact dot. Each list ranks by (score desc, id) as
  * the chain's orderBy and row_number windows do, so
  * [[Pipeline.serveHybrid]], [[Pipeline.contextPack]] and
  * [[Pipeline.stagedSelfEval]] answer the same rows on either path.
  */
private[graft] final class ResidentTowers(snap: ServedTowers) {
  import ResidentTowers._

  private val spark = snap.spark
  import spark.implicits._

  private lazy val postings: Map[String, Postings] =
    labeled(spark, "serve: load postings") {
      snap.tables("tf_b").groupBy("term")
        .agg(collect_list(struct(col("doc_id").cast("long").as("id"),
          col("tf").cast("int").as("tf"), col("dl").cast("int").as("dl")))
          .as("ps"))
        .select(col("term"), col("ps.id"), col("ps.tf"), col("ps.dl"))
        .as[(String, Array[Long], Array[Int], Array[Int])].collect()
    }.map { case (t, ids, tf, dl) => t -> Postings(ids, tf, dl) }.toMap

  private lazy val int16: Map[Int, Codes[Char]] =
    labeled(spark, "serve: load ivf lists") {
      byList(snap.tables("enc_ivf"), col("u16"))
    }.map { case (c, ids, cs) =>
      c -> Codes(ids, narrow(cs, 0xffff)(_.toChar))
    }.toMap

  private lazy val sq8: Map[Int, Codes[Byte]] =
    labeled(spark, "serve: load sq8 codes") {
      byList(snap.sq8.frame, col("codes"))
    }.map { case (c, ids, cs) =>
      c -> Codes(ids, narrow(cs, 0xff)(_.toByte))
    }.toMap

  private lazy val pq: Map[Int, Codes[Byte]] =
    labeled(spark, "serve: load pq codes") {
      byList(snap.pq.frame,
        array((0 until Pipeline.pqM).map(mi => col(s"code$mi")): _*))
    }.map { case (c, ids, cs) =>
      c -> Codes(ids, narrow(cs, 0xff)(_.toByte))
    }.toMap

  /** Both towers' ranked top-`kList` for one query, (BM25, dense): what
    * [[Pipeline.serveHybrid]]'s Spark branch collects, computed here.
    */
  def hybridLists(terms: Seq[String], qU16: Seq[Long], kList: Int,
      nProbe: Int, tier: String,
      overFetch: Int): Seq[Seq[(Long, Double)]] = {
    val cids = Pipeline.probeCidsOf(snap, qU16, nProbe).distinct
    val q = qU16.toArray
    val dense = tier match {
      case "int16" => exact(cids, q, kList, _ => true)
      case "sq8" => sq8Top(cids, q, kList)
      case "pq" => pqTop(cids, q, kList)
      case "sq8_rerank" =>
        exact(cids, q, kList, sq8Top(cids, q, kList * overFetch)
          .map(_._1).toSet)
      case "pq_rerank" =>
        exact(cids, q, kList, pqTop(cids, q, kList * overFetch)
          .map(_._1).toSet)
      case other => Pipeline.unknownTier(other)
    }
    Seq(bm25Top(terms, kList), dense)
  }

  /** [[Pipeline.bm25Staged]]'s top `k`. */
  private def bm25Top(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    top(bm25Scores(terms).iterator.map(s => (s.id, s.score)), k)

  /** One query's BM25 score of every doc that holds a known term, as
    * [[Pipeline.bm25Staged]] and [[Pipeline.selfQueryScores]] compute
    * it: each doc's contributions summed and rounded to 4 places, with
    * the doc's length from its postings.
    */
  private def bm25Scores(terms: Seq[String]): Array[Scored] = {
    val (idf, avgdl) = (snap.idf, snap.avgdl)
    val sums = scala.collection.mutable.LongMap.empty[Double]
    val dls = scala.collection.mutable.LongMap.empty[Int]
    for (t <- terms.distinct if idf.contains(t); p <- postings.get(t)) {
      val w = idf(t)
      var i = 0
      while (i < p.ids.length) {
        val c = Search.bm25Contrib(w, p.tf(i), p.dl(i), avgdl)
        sums(p.ids(i)) = sums.getOrElse(p.ids(i), 0.0) + c
        dls(p.ids(i)) = math.max(dls.getOrElse(p.ids(i), 0), p.dl(i))
        i += 1
      }
    }
    sums.iterator.map { case (id, s) =>
      Scored(id, Pipeline.sparkRound(s, 4), dls(id))
    }.toArray
  }

  /** [[Pipeline.selfQuerySet]] from the postings: each first chunk
    * (id a multiple of 1e6) below `nQueries`·1e6 asks its top `topT`
    * terms by (tf desc, term), in qid order.
    */
  def selfQuerySet(nQueries: Int, topT: Int): Seq[(Long, String)] = {
    val lim = nQueries.toLong * 1000000L
    val byQ = scala.collection.mutable.LongMap
      .empty[List[(String, Int)]]
    for ((t, p) <- postings; i <- p.ids.indices) {
      val id = p.ids(i)
      if (id % 1000000L == 0 && id < lim)
        byQ(id) = (t, p.tf(i)) :: byQ.getOrElse(id, Nil)
    }
    byQ.toSeq.sortBy(_._1).flatMap { case (qid, ts) =>
      ts.sortWith { case ((ta, fa), (tb, fb)) =>
        fa > fb || (fa == fb && utf8(ta).compareTo(utf8(tb)) < 0)
      }.take(topT).map(t => (qid, t._1))
    }
  }

  /** [[Pipeline.packFromScores]] over each query's [[bm25Scores]], in
    * (qid, rank) order: the top `kCand` by (score desc, id), at most
    * `maxPerDoc` per source doc, ranked, and the prefix whose running
    * token sum fits `budget`. Rows are [[Pipeline.packSchema]]'s.
    */
  def pack(qrows: Seq[(Long, String)], kCand: Int, maxPerDoc: Int,
      budget: Int): Seq[Row] =
    byQid(qrows).flatMap { case (qid, terms) =>
      val perDoc = scala.collection.mutable.LongMap.empty[Int]
      var cum = 0L
      bm25Scores(terms).sortWith(before).take(kCand).filter { s =>
        val n = perDoc.getOrElse(srcDoc(s.id), 0) + 1
        perDoc(srcDoc(s.id)) = n
        n <= maxPerDoc
      }.zipWithIndex.map { case (s, i) =>
        cum += s.dl
        Row(qid, i + 1L, s.id, srcDoc(s.id), s.dl.toLong, cum, s.score)
      }.takeWhile(_.getLong(5) <= budget)
    }

  /** [[Pipeline.stagedSelfEval]] per query whose own chunk scores, in
    * qid order: (query_chunk, n_cand, rank, rr, hit@`k`).
    */
  def selfEval(qrows: Seq[(Long, String)], k: Int): Seq[Row] =
    byQid(qrows).flatMap { case (qid, terms) =>
      val scores = bm25Scores(terms)
      scores.find(_.id == qid).map { own =>
        val rank = 1L + scores.count(before(_, own))
        Row(qid, scores.length.toLong, rank, roundEst(1.0 / rank),
          if (rank <= k) 1 else 0)
      }
    }

  /** [[Pipeline.denseTop]]'s exact long dot over the probed lists'
    * vectors that `keep` admits (all of them, or a rerank shortlist).
    */
  private def exact(cids: Seq[Int], q: Array[Long], k: Int,
      keep: Long => Boolean): Seq[(Long, Double)] =
    top(scored(int16, cids, q.length, keep) { (l, o) =>
      var s = 0L; var i = 0
      while (i < q.length) { s += l.codes(o + i).toLong * q(i); i += 1 }
      s.toDouble
    }, k)

  /** [[Pipeline.denseTopSq8]]'s estimate: q · the codes' bucket-center
    * reconstruction, folded from 0.0 left to right.
    */
  private def sq8Top(cids: Seq[Int], q: Array[Long],
      k: Int): Seq[(Long, Double)] = {
    val tier = snap.sq8
    val qd = q.map(_.toDouble)
    top(scored(sq8, cids, q.length, _ => true) { (l, o) =>
      var acc = 0.0; var i = 0
      while (i < qd.length) {
        acc = acc + qd(i) * (tier.mins(i) +
          ((l.codes(o + i) & 0xff).toDouble + 0.5) * tier.scales(i))
        i += 1
      }
      roundEst(acc)
    }, k)
  }

  /** [[Pipeline.denseTopPq]]'s estimate: the per-subspace dot tables
    * looked up by each code and summed in subspace order.
    */
  private def pqTop(cids: Seq[Int], q: Array[Long],
      k: Int): Seq[(Long, Double)] = {
    val dt = Pipeline.pqDotTables(snap.pq, q.toSeq)
    top(scored(pq, cids, dt.length, _ => true) { (l, o) =>
      var s = dt(0)(l.codes(o) & 0xff); var mi = 1
      while (mi < dt.length) {
        s = s + dt(mi)(l.codes(o + mi) & 0xff); mi += 1
      }
      roundEst(s)
    }, k)
  }
}

private[graft] object ResidentTowers {

  /** Driver heap bytes a full copy (postings, IVF lists, sq8 and pq
    * codes) takes per parquet byte of `tf_b` + `enc_ivf`, the layouts
    * whose size is known when the copy is decided. `SizeEstimator`
    * measured the loaded copy of md corpora at dim 64 (40–160 words a
    * doc): 2.39 at 200 docs over a 4,000-word Zipf vocabulary (24,509
    * postings, 729 vectors, 428 KB of parquet), 1.74 at 2,000 docs
    * (243,391 postings, 3.8 MB) and 1.48 at 200 docs over 240 words.
    * The per-term arrays and strings weigh most on a small corpus with
    * a large vocabulary; 3.0 is the worst of these with a margin.
    */
  private[graft] val heapPerParquetByte = 3.0

  /** The share of the driver heap all driver copies together may take.
    * In local mode the driver is also the executor, and Spark's unified
    * memory takes 0.6 of the heap above 300 MB; a quarter of the heap
    * stays inside the remaining user memory for any heap of 800 MB or
    * more. A traced `rag_serve` run (seed 4, 3 GB heap) peaked at
    * 710 MB of heap with its copy held, against 817 MB on the Spark
    * path.
    */
  private[graft] val heapShare = 0.25

  /** Whether a copy of layouts of `bytes` parquet bytes may join the
    * `resident` heap bytes that copies already hold, on a driver of
    * `heap` bytes.
    */
  private[graft] def fits(bytes: Long, heap: Long, resident: Long): Boolean =
    resident + heapBytes(bytes) <= heap * heapShare

  /** The heap bytes a copy of `bytes` parquet bytes reserves. */
  private[graft] def heapBytes(bytes: Long): Long =
    math.ceil(bytes * heapPerParquetByte).toLong

  /** A term's postings: doc ids with each posting's tf and doc length. */
  private final case class Postings(ids: Array[Long], tf: Array[Int],
      dl: Array[Int])

  /** One list's vectors: ids, and their codes flat, `dim` per vector. */
  private final case class Codes[C](ids: Array[Long], codes: Array[C])

  /** (cid, vec ids, codes flat) per list of a cid-keyed code layout. */
  private def byList(df: DataFrame,
      codes: Column): Array[(Int, Array[Long], Array[Int])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.groupBy("cid")
      .agg(collect_list(struct(col("vec_id").cast("long").as("id"),
        codes.cast("array<int>").as("c"))).as("vs"))
      .select(col("cid").cast("int"), col("vs.id"), flatten(col("vs.c")))
      .as[(Int, Array[Long], Array[Int])].collect()
  }

  private def narrow[C: scala.reflect.ClassTag](cs: Array[Int], max: Int)(
      f: Int => C): Array[C] =
    cs.map { c =>
      require(c >= 0 && c <= max, s"code $c outside [0, $max]")
      f(c)
    }

  /** Score every vector of the probed lists that `keep` admits, by its
    * list and the offset of its `width` codes.
    */
  private def scored[C](lists: Map[Int, Codes[C]], cids: Seq[Int],
      width: Int, keep: Long => Boolean)(
      score: (Codes[C], Int) => Double): Iterator[(Long, Double)] =
    cids.iterator.flatMap(lists.get).flatMap { l =>
      l.ids.indices.iterator.filter(v => keep(l.ids(v)))
        .map(v => (l.ids(v), score(l, v * width)))
    }

  /** The dense tiers' 4-place estimate round, floor(x·1e4 + 0.5)/1e4,
    * as Spark's `floor` (to a long) and division compute it.
    */
  private def roundEst(x: Double): Double =
    math.floor(x * 10000 + 0.5).toLong / 10000.0

  /** A doc's BM25 score and its length in tokens. */
  private final case class Scored(id: Long, score: Double, dl: Int)

  private def before(a: Scored, b: Scored): Boolean =
    rankedBefore((a.id, a.score), (b.id, b.score))

  /** A chunk's source doc, as Spark's floor(id / 1e6) computes it. */
  private def srcDoc(id: Long): Long = math.floor(id / 1000000.0).toLong

  /** Spark's string order: unsigned UTF-8 bytes. */
  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  /** Query rows grouped by qid, in qid order. */
  private def byQid(
      qrows: Seq[(Long, String)]): Seq[(Long, Seq[String])] =
    qrows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2) }

  /** The `k` best by (score desc, id), the chain's orderBy + limit. */
  private def top(cands: Iterator[(Long, Double)],
      k: Int): Seq[(Long, Double)] =
    cands.toArray.sortWith(rankedBefore).take(k).toSeq
}
