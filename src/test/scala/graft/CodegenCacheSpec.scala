package graft

import graft.api.Graft
import org.apache.spark.metrics.source.CodegenMetrics

/** Whole-stage codegen is compiled once per plan: with
  * [[GraftSession.codegenConf]] a repeat call of a curation stage on
  * unchanged input reuses every generated class from Spark's codegen
  * cache instead of recompiling it.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compilations (codegen cache misses) while `f` runs. */
  private def compiles(f: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("curation stages compile 0 codegen classes on a repeat call over unchanged input") {
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_codegen_")
      .toString
    val emb = Graft.embed(docs, "doc_id", "text")
    val calls = Seq[(String, () => Any)](
      "curationFunnel" -> (() =>
        Graft.curationFunnel(docs, "doc_id", "text").collect()),
      "groupSplit" -> (() => Graft.groupSplit(docs, "doc_id", "text").collect()),
      "bloomDecontaminate" -> (() =>
        Graft.bloomDecontaminate(docs, "doc_id", "text").collect()),
      "embed" -> (() => Graft.embed(docs, "doc_id", "text").collect()),
      "tableCommit" -> (() =>
        Graft.tableCommit(emb, root, "vec_id", replace = true)))
    for ((name, call) <- calls) {
      val first = compiles(call())
      val repeat = compiles(call())
      // the JVM's cumulative compile count and the live cache cap, so
      // an order-dependent failure shows how full the cache could be
      assert(repeat == 0,
        s"$name: repeat call compiled $repeat classes (first call $first); " +
          "JVM compiles so far " +
          s"${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}, " +
          s"${GraftSession.cacheCapKey}=" +
          spark.conf.get(GraftSession.cacheCapKey))
    }
  }

  test("the curation funnel's decontamination anti join is a broadcast " +
      "when planned, not a runtime choice that depends on stage order") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    val planned = Graft.curationFunnel(docs, "doc_id", "text")
      .queryExecution.sparkPlan
    val anti = planned.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      case j: SortMergeJoinExec if j.joinType == LeftAnti => j
    }
    assert(anti.nonEmpty && anti.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      anti.map(_.nodeName))
  }
}
