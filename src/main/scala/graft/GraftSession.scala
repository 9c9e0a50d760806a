package graft

import org.apache.spark.sql.SparkSession

/** Canonical session builder for graft entry points.
  *
  * Local defaults mirror what a cluster deployment sets via
  * spark-submit: AQE on (runtime re-planning, skew-join splitting,
  * partition coalescing), shuffle partitions sized to cores (not the
  * 200 default — at cluster scale this is set to ~2-3× total executor
  * cores), UTC session time, parquet nanos handled for the events
  * table.
  *
  * Whole-stage codegen is compiled once per distinct plan, not once
  * per call ([[codegenConf]]):
  *  - `spark.sql.codegen.useIdInClassName=false` drops the codegen
  *    stage id from generated class names. Under AQE the same
  *    sub-plan gets a different stage id on different calls (the
  *    curation funnel's six-branch union does), so with the id the
  *    generated source differs in nothing but that id and misses the
  *    codegen cache. On the sf0.001 test data a repeat
  *    `curationFunnel` call compiled 22 classes with the id and 0
  *    without it (`CodegenCacheSpec`).
  *  - `spark.sql.codegen.cache.maxEntries=2000` sizes Spark's codegen
  *    cache (100 entries by default) to graft's plan working set: a
  *    curation pass (funnel, group split, bloom decontamination,
  *    embed, commit) compiled about 195 classes per pass (funnel ~92,
  *    group split ~67), so the default cache evicted every class
  *    before the next pass reused it and the JIT compiled each one
  *    again. Without stage ids a whole `curate_batch` benchmark run
  *    compiles 184 distinct classes; 2,000 leaves room for about ten
  *    such working sets in one process.
  *
  * Measured together on 4 cores (`perfbench`, `curate_batch`): Janino
  * compiles per traced stage call fell from 38–40 to 0 and a pass's
  * median latency from 7.3 s to 5.4 s, with identical outputs.
  *
  * The cache cap is a STATIC conf: it only applies when this call
  * creates the session's SparkContext, and Spark's codegen cache is
  * JVM-wide, sized when it is first used. `build` uses
  * `getOrCreate`, so on an already-running session with another cap
  * it logs one WARN and carries on with the live cap.
  */
object GraftSession {
  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.GraftSession")

  private[graft] val cacheCapKey = "spark.sql.codegen.cache.maxEntries"

  /** Codegen settings every graft session runs with (see above). */
  val codegenConf: Map[String, String] = Map(
    "spark.sql.codegen.useIdInClassName" -> "false",
    cacheCapKey -> "2000")

  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Post-shuffle partitions are sized by BYTES, not pinned to the
      // core count: parallelismFirst=false lets AQE coalesce every
      // shuffle down to advisory-sized partitions (guide §2.2 — "size
      // partitions to 100MB-1GB and let AQE coalesce", §9). With the
      // default (true), AQE only coalesces down to the default
      // parallelism, so a KB-sized shuffle still launches one task
      // per core — pure scheduling overhead at small scale, and at
      // cluster scale the same flag is what keeps reduce partitions
      // advisory-sized instead of core-count-sized. Both knobs are
      // env-overridable for deployments that want different targets.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
      .config(codegenConf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val liveCap = spark.conf.get(cacheCapKey)
    if (liveCap != codegenConf(cacheCapKey))
      logger.warn(s"$cacheCapKey is $liveCap on the running session, " +
        s"not graft's ${codegenConf(cacheCapKey)}: it is a static conf and " +
        "the session already existed, so repeat calls may recompile " +
        "whole-stage codegen classes")
    spark
  }
}
