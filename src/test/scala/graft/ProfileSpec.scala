package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.tools.Profile

/** `graft.tools.Profile`'s contract: one JSON line per query with the
  * layered split, every job in exactly one phase and every stage in
  * its job, a time split that covers the wall, the `--copies` corpus
  * and the `--plan` dump. Plus the guard that keeps it the only tool.
  */
class ProfileSpec extends SparkSpec {

  private def parsed(line: Map[String, Any]): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(Profile.toJson(line)).values
      .asInstanceOf[Map[String, Any]]

  private def num(v: Any): Double = v match {
    case b: BigInt => b.toDouble
    case d: Double => d
    case other => fail(s"not a number: $other")
  }

  private def rows(m: Map[String, Any], key: String): Seq[Map[String, Any]] =
    m(key).asInstanceOf[Seq[Map[String, Any]]]

  // p5 deletes from a clone of the staged index: its jobs run under
  // settleAll labels as well as unlabelled
  private lazy val p5 = parsed(Profile.profile(spark, sf, "p5_index_remove"))
  private lazy val q1 = parsed(Profile.profile(spark, sf, "q1_pricing_summary",
    plan = true))
  // the d-family's CC loop and bloom/confirm staging label every job
  private lazy val dFamily = Seq("d10_group_split", "d12_bloom_decontaminate")
    .map(q => parsed(Profile.profile(spark, sf, q)))

  test("a profile line parses as JSON and carries every layer's keys") {
    for (m <- Seq(p5, q1)) {
      for (k <- Seq("query", "rows", "wall_s", "job_union_s", "driver_gap_s",
          "phases", "jobs", "stages", "codegen_compiles"))
        assert(m.contains(k), s"${m("query")} lacks $k")
      assert(num(m("rows")) > 0 && num(m("wall_s")) > 0)
      assert(rows(m, "stages").nonEmpty)
      for (s <- rows(m, "stages"); k <- Seq("stage", "job", "label", "tasks",
          "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
          "scheduler_delay_s"))
        assert(s.contains(k), s"stage ${s.get("stage")} lacks $k")
      assert(num(m("codegen_compiles")) >= 0)
    }
    assert(q1("query") == "q1_pricing_summary")
    assert(num(q1("rows")) == run("q1_pricing_summary").collect().length)
    assert(p5("phases").asInstanceOf[Map[String, Any]].keySet.exists(_ != "unlabelled"),
      "p5's settleAll thunks carry no label")
  }

  test("every job is in exactly one phase, every stage in its job") {
    for (m <- dFamily)
      assert(!m("phases").asInstanceOf[Map[String, Any]].contains("unlabelled"),
        s"${m("query")} runs unlabelled jobs: ${m("jobs")}")
    for (m <- Seq(p5, q1) ++ dFamily) {
      val jobs = rows(m, "jobs")
      val ids = jobs.map(j => num(j("job")))
      assert(ids.distinct.size == ids.size)
      val labelOf = jobs.map(j => num(j("job")) -> j("label")).toMap
      val phases = m("phases").asInstanceOf[Map[String, Any]]
      assert(phases.keySet == labelOf.values.toSet)
      val wall = num(m("wall_s"))
      for ((label, s) <- phases) assert(num(s) > 0 && num(s) <= wall + 1e-9, label)
      for (s <- rows(m, "stages")) {
        val job = num(s("job"))
        assert(labelOf.contains(job), s"stage ${s("stage")} maps to no job of the query")
        assert(s("label") == labelOf(job))
        assert(num(s("tasks")) >= 1 && num(s("task_s")) >= 0)
      }
    }
  }

  test("driver gap plus the union of stage intervals covers the wall time") {
    // the stage union leaves out each job's own scheduling around its
    // stages (job submit to first stage submit, last stage end to job
    // end). Measured on 4 cores: 0.005 s of q1's 0.63 s wall and
    // 0.22 s of p5's 40.6 s (0.5%), so 0.05 s + 2% of the wall holds
    val tolerance = (wall: Double) => 0.05 + 0.02 * wall
    for (m <- Seq(p5, q1)) {
      val ivs = rows(m, "stages").map(s =>
        (math.round(num(s("start_s")) * 1e3), math.round(num(s("end_s")) * 1e3)))
      val stageUnion = Profile.unionLength(ivs) / 1e3
      val (wall, gap) = (num(m("wall_s")), num(m("driver_gap_s")))
      assert(math.abs(wall - num(m("job_union_s")) - gap) < 1e-6)
      assert(stageUnion <= num(m("job_union_s")) + 1e-6)
      info(f"${m("query")}: wall $wall%.3f s, gap $gap%.3f s, stage union " +
        f"$stageUnion%.3f s, uncovered ${wall - gap - stageUnion}%.3f s")
      assert(math.abs(gap + stageUnion - wall) <= tolerance(wall),
        s"${m("query")}: gap $gap + stages $stageUnion vs wall $wall")
    }
  }

  test("--plan holds the final adaptive plan") {
    val plan = q1("plan").asInstanceOf[String]
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan)
  }

  test("--copies 2 doubles the documents, and the copies share no token " +
      "outside the marker words") {
    val dir = Profile.replicate(spark, sf, 2)
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val base = spark.read.parquet(s"$sf/documents.parquet")
      val n = base.count()
      assert(docs.count() == 2 * n)
      assert(docs.columns.toSeq == base.columns.toSeq)
      val stride = base.agg(max("doc_id")).head().getLong(0) + 1
      def vocab(c: Int): Set[String] = docs
        .filter(col("doc_id") >= c * stride && col("doc_id") < (c + 1) * stride)
        .select(explode(split(col("text"), "\\s+"))).distinct()
        .collect().map(_.getString(0)).toSet
      val markers = operators.TextAnalysis.profiles.flatMap(_._2).toSet
      val shared = vocab(0) intersect vocab(1)
      assert((shared -- markers).isEmpty, s"copies share ${shared -- markers}")
      assert(shared.nonEmpty, "marker words must survive the copy")
      // embeddings: twice the rows, same dims, norms kept
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      val vbase = spark.read.parquet(s"$sf/embeddings.parquet")
      assert(vecs.count() == 2 * vbase.count())
      assert(vecs.schema == vbase.schema)
      val norm = sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double")))
      val vstride = vbase.agg(max("vec_id")).head().getLong(0) + 1
      val drift = vecs.select((col("vec_id") % vstride).as("vec_id"), norm.as("n"))
        .join(vbase.select(col("vec_id"), norm.as("n0")), "vec_id")
        .agg(count(lit(1)), max(abs(col("n") - col("n0")))).head()
      assert(drift.getLong(0) == 2 * vbase.count() && drift.getDouble(1) < 1e-6)
      // every other table is the same file
      assert(spark.read.parquet(s"$dir/orders.parquet").count() ==
        spark.read.parquet(s"$sf/orders.parquet").count())
      val p = Profile.profile(spark, dir, "d1_dedup_exact")
      assert(p("rows").asInstanceOf[Int] > 0)
    } finally Staging.release(dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }

  test("options: sfDir, names, --copies and --plan; nothing else") {
    assert(Profile.parse(Array("d", "a,b")) ==
      Profile.Options("d", Seq("a", "b"), 1, plan = false))
    assert(Profile.parse(Array("d", "a", "--plan", "--copies", "3")) ==
      Profile.Options("d", Seq("a"), 3, plan = true))
    for (bad <- Seq(Array("d"), Array("d", "a", "--formatted"),
        Array("d", "a", "--copies", "0"), Array("d", "a", "--copies")))
      intercept[IllegalArgumentException](Profile.parse(bad))
  }

  test("no entry point outside Bench, Verify and tools/Profile") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val allowed = Seq(Seq("graft", "Bench.scala"), Seq("graft", "Verify.scala"),
      Seq("graft", "tools", "Profile.scala"))
      .map(p => root.resolve(java.nio.file.Paths.get(p.head, p.tail: _*)))
    val entry = "def main\\(|extends App\\b".r
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(allowed.contains)
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if entry.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty,
      "run a one-off measurement through graft.tools.Profile:\n" + hits.mkString("\n"))
  }
}
