package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the workloads feed graft is a
  * pure function of the seed, built on the driver and landed as
  * parquet before any timing; the program sees only that parquet.
  */
object Corpus {

  /** One repository entry: the `ragIndex` input shape. */
  final case class Doc(id: Long, path: String, lang: String, text: String)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa",
    "ti", "vo", "ze", "pa", "do", "fu", "ga", "hi", "jo", "be")
  // English stopwords lead the Zipf ranks, as in real text; the
  // curation funnel's quality and language signals score on them
  private val head = Array("the", "a", "of", "and", "is", "to", "in",
    "for", "with", "on")
  private val german = Array("der", "die", "und", "das", "ist", "nicht",
    "mit", "auf", "ein", "zu")

  /** Word at Zipf rank `r`: stopwords first, then distinct syllable
    * strings (rank digits in base 16, at least two syllables).
    */
  def word(r: Int): String =
    if (r < head.length) head(r)
    else {
      var n = r - head.length + 16
      val sb = new StringBuilder
      while (n > 0) { sb.append(syllables(n & 15)); n >>>= 4 }
      sb.toString
    }

  /** A Zipf(`s`) sampler over `v` ranks. */
  final class Zipf(v: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(v)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def rank(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(v - 1, if (i >= 0) i else -i - 1)
    }
  }

  def words(rng: SplittableRandom, z: Zipf, n: Int): Array[String] =
    Array.fill(n)(word(z.rank(rng)))

  def sentence(ws: Seq[String]): String =
    ws.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

  /** File types of the RAG corpora: markdown with frontmatter,
    * notebooks, code (rewritten by graft's batched model pass) and a
    * few entries the router skips. The shares are an assumption, not a
    * measurement: no corpus with file paths is in the repository.
    */
  val typeMix: Seq[(String, Double)] = Seq("md" -> 0.62, "mdx" -> 0.06,
    "ipynb" -> 0.12, "py" -> 0.10, "sql" -> 0.04, "png" -> 0.03,
    "hidden" -> 0.03)

  private def pickType(rng: SplittableRandom): String = {
    var u = rng.nextDouble()
    typeMix.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("md")
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One repository entry of type `ext` with a body of `ws`. */
  def entry(id: Long, ext: String, ws: Array[String]): Doc = {
    val dir = s"repo/d${id % 7}"
    ext match {
      case "md" | "mdx" =>
        Doc(id, s"$dir/page$id.$ext", "en",
          s"---\ntitle: ${ws.take(3).mkString(" ")}\nid: $id\n---\n" +
            sentence(ws.toSeq))
      case "ipynb" =>
        val (a, b) = ws.splitAt(ws.length * 2 / 3)
        Doc(id, s"$dir/nb$id.ipynb", "en",
          "{\"cells\":[{\"cell_type\":\"markdown\",\"source\":" +
            jsonStr("# " + sentence(a.toSeq)) + "},{\"cell_type\":\"code\"," +
            "\"source\":" + jsonStr(b.mkString("(", ", ", ")")) + "}]}")
      case "py" =>
        Doc(id, s"$dir/mod$id.py", "python",
          s"def f$id():\n    return " + ws.mkString(" + "))
      case "sql" =>
        Doc(id, s"$dir/q$id.sql", "sql",
          "select " + ws.mkString(", ") + " from t" + id)
      case "png" => Doc(id, s"$dir/img$id.png", "en", "binary")
      case _ => Doc(id, s"$dir/.hidden$id.md", "en", sentence(ws.toSeq))
    }
  }

  /** A seeded repository of `n` entries as (file type, words). */
  def repoWords(seed: Long, n: Int, z: Zipf, minWords: Int,
      maxWords: Int): Seq[(String, Array[String])] = {
    val rng = new SplittableRandom(seed)
    (0 until n).map { _ =>
      val ws = words(rng, z, minWords + rng.nextInt(maxWords - minWords + 1))
      pickType(rng) -> ws
    }
  }

  /** Every repository doc carries a unique token, so a search can
    * target it.
    */
  def tokenOf(id: Long): String = s"zq${id}k"

  /** A seeded repository of `n` entries with ids from `firstId`.
    * `typeOf` may override the drawn file type of entry `i`.
    */
  def repo(seed: Long, n: Int, firstId: Long, z: Zipf, minWords: Int,
      maxWords: Int, typeOf: (Int, String) => String = (_, t) => t): Seq[Doc] =
    repoWords(seed, n, z, minWords, maxWords).zipWithIndex.map {
      case ((t, ws), i) =>
        entry(firstId + i, typeOf(i, t), tokenOf(firstId + i) +: ws)
    }

  /** Term-frequency class of a Zipf rank, as the query mix names it. */
  def freqClass(r: Int): String =
    if (r < 60) "common" else if (r < 600) "mid" else "rare"

  /** `n` distinct queries of 1–5 terms drawn from the common, mid and
    * rare rank bands (stopwords excluded), so both dense postings and
    * singleton postings serve. The shape is stratified, not drawn:
    * query `i` has `1 + i % 5` terms and term `j` comes from band
    * `(i + j) % 3`, so every run asks the same mix and the seed picks
    * only the words.
    */
  def queries(seed: Long, n: Int, vocab: Int): Seq[(String, Seq[String])] = {
    val rng = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    def band(b: Int): Int = b match {
      case 0 => head.length + rng.nextInt(60 - head.length)
      case 1 => 60 + rng.nextInt(540)
      case _ => 600 + rng.nextInt(vocab - 600)
    }
    while (seen.size < n) {
      val i = seen.size
      val rs = (0 until 1 + i % 5).map(j => band((i + j) % 3))
      val q = rs.map(word).mkString(" ")
      if (!seen.contains(q)) seen(q) = rs.map(freqClass)
    }
    seen.toSeq
  }

  /** Curation corpus: plain (id, text) documents laid out in blocks of
    * 50, so every seed plants the same structure and only the words
    * vary:
    *  - slots 1, 2, 11, 12, … (20%) are near-dup family members, each
    *    a copy of its decade's slot-0 base with `editShare` of the
    *    words replaced (families of three, so the near-dup graph has
    *    the same shape on every seed);
    *  - slot 7 (2%) copies a 12-word span of an earlier benchmark doc
    *    (id ≡ 0 mod `benchMod`), so it shares that doc's 5-grams;
    *  - slot 13 (2%) is German.
    * Benchmark docs are always plain. Returns the rows plus the ids of
    * each planted class.
    */
  final case class Curation(rows: Seq[(Long, String)], dupIds: Set[Long],
      contamIds: Set[Long], deIds: Set[Long], benchIds: Set[Long])

  def curation(seed: Long, n: Int, firstId: Long, z: Zipf,
      editShare: Double, benchMod: Long): Curation = {
    val rng = new SplittableRandom(seed)
    val text = new Array[Array[String]](n)
    val dup, contam, de = ArrayBuffer[Long]()
    val ids = Array.tabulate(n)(i => firstId + i)
    val bench = ArrayBuffer[Int]()
    for (i <- 0 until n) {
      val len = 50 + rng.nextInt(100)
      val slot = i % 50
      text(i) =
        if (ids(i) % benchMod == 0) { bench += i; words(rng, z, len) }
        else if (slot % 10 == 1 || slot % 10 == 2) {
          dup += ids(i)
          text(i - slot % 10).map(w => if (rng.nextDouble() < editShare)
            word(z.rank(rng)) else w)
        } else if (slot == 7 && bench.nonEmpty) {
          val src = text(bench(rng.nextInt(bench.size)))
          contam += ids(i)
          val at = rng.nextInt(math.max(1, src.length - 12))
          words(rng, z, len / 2) ++ src.slice(at, at + 12) ++
            words(rng, z, len / 2)
        } else if (slot == 13) {
          de += ids(i)
          Array.fill(len)(if (rng.nextInt(3) == 0)
            german(rng.nextInt(german.length)) else word(z.rank(rng)))
        } else words(rng, z, len)
    }
    Curation(ids.indices.map(i => ids(i) -> sentence(text(i).toSeq)),
      dup.toSet, contam.toSet, de.toSet, bench.map(ids).toSet)
  }
}
