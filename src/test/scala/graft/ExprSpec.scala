package graft

import graft.functions.Text
import org.apache.spark.sql.functions._

/** The compiled expressions must be bit-identical to their
  * higher-order-function twins (which the DuckDB oracle mirrors).
  */
class ExprSpec extends SparkSpec {

  private def toksDf = Tables(spark, sf).documents
    .withColumn("tk", Text.tokenize(col("text")))

  test("ShingleArray == HOF shingles (set and order) for k=3 and k=5") {
    for (k <- Seq(3, 5)) {
      val rows = toksDf
        .select(Text.shingles(k)(col("tk")).as("slow"),
          Text.shinglesFast(k)(col("tk")).as("fast"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k")
      }
    }
  }

  test("MinHashSig == HOF conv/affine minhash") {
    val hof = toksDf
      .withColumn("sh", Text.shingles(3)(col("tk")))
      .filter(size(col("sh")) > 0)
      .withColumn("hs", transform(col("sh"), s => {
        val m = md5(s)
        struct(conv(m.substr(1, 8), 16, 10).cast("long").as("h1"),
          conv(m.substr(9, 8), 16, 10).cast("long").as("h2"))
      }))
      .select(col("doc_id"), transform(sequence(lit(0), lit(15)),
        p => array_min(transform(col("hs"),
          h => (h.getField("h1") + p * h.getField("h2")) % 4294967291L))).as("mhs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fast = toksDf
      .withColumn("sh", Text.shinglesFast(3)(col("tk")))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), Text.minhashSig(col("sh")).as("mhs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hof.keySet == fast.keySet)
    hof.foreach { case (id, sig) => assert(fast(id) == sig, s"doc $id") }
  }

  test("ThresholdBits == HOF threshold signature (strict >, per-dim)") {
    val t = Tables(spark, sf)
    val means = graft.operators.Ann.bqModel(t, 64)
    val mn = typedLit(means.toSeq)
    val rows = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        array_join(transform(col("v"), (x, i) =>
          when(x > element_at(mn, i + 1), lit("1"))
            .otherwise(lit("0"))), "").as("hof"),
        graft.functions.Vectors.thresholdBits(col("v"),
          new graft.expressions.PlaneMatrix(means, 64)).as("fast"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"vec ${r.getLong(0)}")
      assert(r.getString(2).length == 64)
    }
  }

  test("signature expressions run inside WholeStageCodegen (no fallback boundary)") {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    // one projection holding all three signature expressions: if any
    // of them were CodegenFallback, CollapseCodegenStages would push
    // the WHOLE project out of codegen (no '*(n)' stage around it)
    val sigs = toksDf.select(
      Text.shinglesFast(3)(col("tk")).as("sh"),
      Text.simhashSig(col("tk")).as("sim"),
      graft.functions.Vectors.thresholdBits(
        array(lit(0.5), lit(-0.5)),
        new graft.expressions.PlaneMatrix(Array(0.0, 0.0), 2))
        .as("tb"))
      .withColumn("mhs", Text.minhashSig(col("sh")))
    // the vector kernels and the multi-probe explode, over a range so
    // the inputs are neither foldable nor a LocalRelation (either one
    // would be evaluated on the driver, outside codegen)
    val x = col("id").cast("double")
    val kernels = spark.range(4).select(col("id"),
      graft.functions.Vectors.cosine(array(x + 1.0, lit(2.0), lit(3.0)),
        array(lit(1.0), lit(2.0), lit(2.0))).as("cos"),
      graft.functions.Vectors.hamming(lpad(bin(col("id")), 4, "0"),
        lit("0111")).as("ham"),
      explode(column(graft.expressions.BitFlipProbes(
        expression(col("id") + 5), 4))).as("probe"))
    // fallback=false: a '*(n)' in the plan STRING only proves
    // CollapseCodegenStages accepted the expressions — if the
    // generated Java failed Janino compilation Spark would silently
    // interpret at runtime and the string would still show '*(n)'.
    // With fallback disabled a codegen compile failure throws here.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val rows = try { sigs.collect(); kernels.collect() }
    finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    def assertCodegen(df: org.apache.spark.sql.DataFrame, op: String) = {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(_.matches(s"[\\s+:-]*\\*\\(\\d+\\) $op .*")),
        s"$op not whole-stage-codegen'd:\n$plan")
    }
    assertCodegen(sigs, "Project")
    assertCodegen(kernels, "Project")
    assertCodegen(kernels, "Generate")
    // the compiled kernels' answers: cosine in CosineSim's own
    // accumulation order, Hamming as differing bits, and the probes
    // as the key followed by its single-bit flips
    val byId = rows.groupBy(_.getLong(0))
    assert(byId.keySet == (0L until 4L).toSet)
    byId.foreach { case (id, rs) =>
      val a = Array(id + 1.0, 2.0, 3.0); val b = Array(1.0, 2.0, 2.0)
      val cos = a.zip(b).map { case (p, q) => p * q }.sum /
        (math.sqrt(a.map(v => v * v).sum) * math.sqrt(b.map(v => v * v).sum))
      rs.foreach { r =>
        assert(r.getDouble(1) == cos, s"cosine, id $id")
        assert(r.getInt(2) == java.lang.Long.bitCount(id ^ 7L), s"hamming, id $id")
      }
      val k = id + 5
      assert(rs.map(_.getLong(3)).toSeq ==
        (k +: (0 until 4).map(j => k ^ (1L << j))), s"probes, id $id")
    }
  }

  test("KMV sketch: exact below capacity, estimator within 3σ above, merge-stable") {
    import SparkSpec.spark.implicits._
    import graft.functions.Sketch
    val h = conv(substring(md5(col("v").cast("string")), 1, 8), 16, 10)
      .cast("long")
    // 40 distinct values < k=64 → the sketch holds them all: exact
    val small = (1 to 40).flatMap(v => Seq(("g", v), ("g", v))).toDF("g", "v")
      .select(col("g"), h.as("h"))
      .groupBy("g").agg(Sketch.kmvDistinct(col("h"), 64).as("est"))
      .collect()(0).getDouble(1)
    assert(small == 40.0)
    // 5000 distinct values >> k: estimator engages; σ/n ≈ 1/√(k−2)
    // (~12.6%), so 3σ ≈ 38% — a deterministic bound, not a flaky one
    val big = (1 to 5000).map(v => ("g", v)).toDF("g", "v")
      .select(col("g"), h.as("h"))
      .groupBy("g").agg(Sketch.kmvDistinct(col("h"), 64).as("est"))
      .collect()(0).getDouble(1)
    assert(math.abs(big / 5000.0 - 1.0) < 0.38, s"est $big for n=5000")
    // merge associativity: the same data split across many partitions
    // must give the IDENTICAL sketch (k smallest of the union)
    val rep = (1 to 5000).map(v => ("g", v)).toDF("g", "v")
      .repartition(13)
      .select(col("g"), h.as("h"))
      .groupBy("g").agg(Sketch.kmvDistinct(col("h"), 64).as("est"))
      .collect()(0).getDouble(1)
    assert(rep == big)
  }

  test("bottom-k quantile sketch: merge-stable, tracks the exact quantiles") {
    import graft.functions.Sketch
    val orders = Tables(spark, sf).orders
      .select(col("o_orderpriority"),
        md5(col("o_orderkey").cast("string")).as("h"),
        col("o_totalprice"))
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("o_orderpriority")
      .agg(Sketch.bottomKQuantiles(col("h"), col("o_totalprice"), 128,
        Seq(0.5, 0.9)).as("qs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val a = sketch(orders)
    val b = sketch(orders.repartition(13))   // identical sample ⇒ identical est
    assert(a == b)
    // accuracy: a 128-of-~300 uniform sample's median/p90 sit within
    // 15% of the exact interpolated quantiles (deterministic data)
    val exact = Tables(spark, sf).orders
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("m"),
        expr("percentile(o_totalprice, 0.9)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    a.foreach { case (pri, est) =>
      val (m, p) = exact(pri)
      assert(math.abs(est(0) / m - 1) < 0.15, s"$pri median ${est(0)} vs $m")
      assert(math.abs(est(1) / p - 1) < 0.15, s"$pri p90 ${est(1)} vs $p")
    }
  }

  test("count-min sketch: mass conserved, merge-stable, estimates one-sided") {
    import SparkSpec.spark.implicits._
    import graft.functions.Sketch
    val df = (1 to 1000).map(v => ("g", s"item${v % 37}")).toDF("g", "item")
      .select(col("g"),
        conv(substring(md5(col("item")), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("item")), 9, 8), 16, 10).cast("long").as("h2"))
    def sketch(d: org.apache.spark.sql.DataFrame) = d.groupBy("g")
      .agg(Sketch.countMin(col("h1"), col("h2"), 4, 1024).as("cms"))
      .collect()(0).getSeq[Long](1)
    val s1 = sketch(df)
    // element-wise-add merges ⇒ identical sketch under any partitioning
    assert(sketch(df.repartition(13)) == s1)
    // every instance increments exactly one cell per row: Σ = d·n
    assert(s1.sum == 4L * 1000)
    // the q22 read-out: est ≥ exact for every query term, and tight at
    // this vocabulary size for at least the majority
    val rows = run("q22_cms_freq").collect()
      .map(r => (r.getAs[Long]("est"), r.getAs[Long]("exact_n")))
    assert(rows.nonEmpty)
    rows.foreach { case (est, exact) => assert(est >= exact) }
    assert(rows.count { case (e, x) => e == x } * 2 >= rows.length)
  }

  test("centroidTop1 == element_at(centroidRanks, 1) — the argmax " +
      "fast path is bit-equal to the full rank's head, ties and " +
      "degenerate vectors included") {
    import SparkSpec.spark.implicits._
    import graft.functions.Vectors
    val dim = 8
    val rnd = new scala.util.Random(421)
    // a codebook with a DUPLICATED centroid (exact tie: rank order
    // must pick the lower id) — top1 must agree with the sort
    val c0 = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val cents = new graft.expressions.PlaneMatrix(
      c0 ++ Array.fill(2 * dim)(rnd.nextDouble() * 2 - 1) ++ c0, dim)
    val vecs = ((1 to 200).map(_ =>
        Array.fill(dim)(rnd.nextDouble() * 2 - 1).toSeq) :+
      c0.toSeq :+              // exact hit on the duplicated centroid
      Seq.fill(dim)(0.0))      // zero vector: every cosine NaN
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val both = vecs.select(
      element_at(Vectors.centroidRanks(col("v"), cents), 1).as("a"),
      Vectors.centroidTop1(col("v"), cents).as("b")).collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"rank head ${r.getInt(0)} != top1 ${r.getInt(1)}"))
  }
}
