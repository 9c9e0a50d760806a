package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface: the engine's data can leave and re-enter
  * through interchange formats without loss, and its parquet sink
  * supports the layout features a 100 TB corpus depends on
  * (partitioned writes + partition-pruned reads; bucketed tables are
  * covered by Dedup.buildBucketedSignatures/BucketSpec).
  *
  * Each operator is a WRITE → READ-BACK → QUERY chain whose oracle
  * runs over the ORIGINAL parquet: the result hash-matches iff the
  * round trip is lossless, so the sink and the source are both under
  * the correctness gate, not just exercised. Reads always pass an
  * explicit schema — schema inference is a correctness hazard
  * (sampling) and a scale hazard (extra full scan) on real corpora.
  *
  * Staging dirs are per-(corpus, format), written once per JVM and
  * overwritten per run — the local stand-in for a lake path.
  */
object Io {

  /** Write `df` once per (corpus dir, tag) via `write`, return the
    * staging path (memoized — repeated operator calls reuse the
    * landed data, like repeated queries over one lake table).
    * WRITE-ONCE-PER-JVM: like every lake-snapshot cache here (see
    * Ann.codebooks), this assumes the source under `t.dir` is
    * immutable while the process lives — an in-JVM rewrite of the
    * corpus path would be served a stale staged copy. Delegates to
    * [[graft.Staging]], whose shutdown hook removes the trees.
    */
  private def stage(t: Tables, tag: String, df: => DataFrame)(
      write: (DataFrame, String) => Unit): String =
    graft.Staging.dir(s"${t.dir}:$tag", s"io_$tag")(d => write(df, d))

  /** io1: JSON-lines round trip of the documents table. The sink is
    * `write.json` (one JSON object per line — the interchange format
    * of every LLM-corpus pipeline); the source reads it back with the
    * writer's schema. The query fingerprints EVERY column (md5 of the
    * text, not the text, so the dump stays small); the oracle runs on
    * the original parquet — a hash match proves byte-lossless text
    * round-trip through JSON escaping.
    */
  def io1JsonlRoundtrip(t: Tables): DataFrame = {
    val schema = t.documents.schema
    val dir = stage(t, "jsonl", t.documents)(
      (df, d) => df.coalesce(4).write.mode("overwrite").json(d))
    t.spark.read.schema(schema).json(dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** io2: CSV round trip of the customer table (header + explicit
    * read schema; doubles survive because Spark writes shortest
    * round-trip decimal strings). The aggregate is computed on the
    * READ-BACK side and compared against the original via the oracle:
    * any quoting/typing loss in the CSV path breaks the hash.
    */
  def io2CsvRoundtrip(t: Tables): DataFrame = {
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val dir = stage(t, "csv", t.customer)(
      (df, d) => df.coalesce(4).write.mode("overwrite")
        .option("header", "true").csv(d))
    t.spark.read.schema(schema).option("header", "true").csv(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("total_bal"),
        min("c_name").as("first_name"))
      .orderBy("c_mktsegment")
  }

  /** io3: partitioned parquet write + partition-PRUNED read. Orders
    * land partitioned by o_orderpriority (the layout choice a 100 TB
    * fact table makes for its dominant filter column); the query
    * filters one priority, so the scan must read 1/5 of the
    * directories — PlanSpec asserts the pruning on the live plan
    * (partitionFilters non-empty, data filters empty).
    */
  def io3PartitionedPrune(t: Tables): DataFrame = {
    val dir = stage(t, "part_parquet", t.orders)(
      (df, d) => df.write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(d))
    partitionedOrders(t, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** The partitioned-orders read half (explicit schema incl. the
    * partition column — no inference scan).
    */
  private def partitionedOrders(t: Tables, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType)))
    t.spark.read.schema(schema.add("o_orderpriority", StringType))
      .parquet(dir)
  }

  private[graft] val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** The corpus's versioned ORDERS table — ONE [[TableLog]] serving
    * the whole lake family: v0 = the base snapshot, v1 = the io4
    * MERGE rewrite (copy-on-write: v1 removes v0's files and adds its
    * own in one atomic commit), v2 = v1 with the erasure pass applied.
    * io4 reads v1, io7 time-travels v0 vs v1, io8 diffs v0 vs v2 —
    * all from this one log, which is exactly how a production table
    * format (Delta/Iceberg) expresses MERGE + time travel + CDC:
    * versioned file lists behind atomic commit files, never three
    * ad-hoc directory layouts. Built once per corpus; data files are
    * immutable once committed, so old snapshots keep serving.
    */
  private[graft] def ordersLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:orderslog", "io_tablelog") { d =>
      landOrdersHistory(t, d, TableLog.open(d))
    }
    TableLog.open(root)
  }

  /** Land the lake family's three-version orders history (base →
    * MERGE rewrite → erasure) into `log`, data files under `d` —
    * the ONE history builder behind [[ordersLog]] and io11's private
    * [[vacuumedLog]], so the io11 oracle's assumption (vacuum runs
    * over exactly io4/io7/io8's history) holds by construction.
    */
  private def landOrdersHistory(t: Tables, d: String, log: TableLog): Unit = {
    def land(name: String, df: DataFrame): Seq[TableLog.FileEntry] = {
      df.write.mode("overwrite").parquet(s"$d/$name")
      TableLog.statsFor(t.spark, s"$d/$name", "o_orderkey", ordersSchema)
    }
    val v0 = land("v0", t.orders)
    log.commit(v0.map(TableLog.Add), tag = "base")
    val v1 = land("v1", mergedOrders(t))
    log.commit(v0.map(f => TableLog.Remove(f.path)) ++
      v1.map(TableLog.Add), tag = "merge")
    val v2 = land("v2", mergedOrders(t)
      .filter(!(col("o_orderkey") >= 0 && col("o_orderkey") % 50 === 0)))
    log.commit(v1.map(f => TableLog.Remove(f.path)) ++
      v2.map(TableLog.Add), tag = "erase")
  }

  /** The lake family's shared serving aggregate (io4, io11): per-
    * status counts, exact money sum (DECIMAL(18,2) → double per the
    * oracle hash policy), key span.
    */
  private[graft] def statusAgg(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_price"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")

  /** io4: UPSERT (MERGE INTO) on a parquet lake table, copy-on-write.
    * The lakehouse write pattern every incremental pipeline needs:
    * land a base snapshot, apply a changeset (updates to existing
    * keys + inserts of new keys), rewrite, and serve the merged
    * state. Spark-first merge = key-partitioned row_number over
    * base ∪ changes with changes winning — ONE shuffle by key, the
    * same dedup-window shape a Delta/Iceberg MERGE compiles to on
    * the matched partition set. The changeset is synthesized
    * deterministically from orders (updates: key % 10 = 0 gets
    * status 'U' and +1000 price; inserts: key % 25 = 0 cloned to
    * key + 10⁷ with status 'N') so the oracle reconstructs the
    * merged table relationally — the final aggregate hash-matches
    * iff the merge semantics AND the write→read round trip are
    * right. The merged state is version 1 of [[ordersLog]]'s commit
    * log (remove-old + add-new in one atomic commit), read back
    * through the snapshot's file list. At 100 TB the rewrite touches
    * only the files holding matched keys — which is precisely what
    * the log's per-file key stats identify; AQE sizes the output
    * files.
    */
  def io4UpsertMerge(t: Tables): DataFrame =
    statusAgg(ordersLog(t).read(t.spark, ordersSchema, 1L))

  /** io5: SMALL-FILE COMPACTION — the maintenance pass every
    * streaming/incremental sink needs (a million 2 MB files read 50×
    * slower than the same bytes in 128 MB files: per-file open cost,
    * footer reads, scheduler overhead). Lands the corpus as 64
    * shards, then compacts to ⌈bytes/target⌉ files sized by a
    * metadata listing (the same stats read AQE does). The read-back
    * is fingerprinted per row — the gate proves compaction moved
    * every byte faithfully; CompactionSpec asserts the file count
    * actually shrank.
    */
  def io5Compaction(t: Tables, targetBytes: Long = 8L << 20): DataFrame = {
    val docSchema = t.documents.schema
    val smallDir = stage(t, "small_files", t.documents.repartition(64))(
      (df, d) => df.write.mode("overwrite").parquet(d))
    val compactedDir = stage(t, "compacted",
      t.spark.read.schema(docSchema).parquet(smallDir)
        .coalesce(compactionFileCount(smallDir, targetBytes)))(
      (df, d) => df.write.mode("overwrite").parquet(d))
    t.spark.read.schema(docSchema).parquet(compactedDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** io7: TIME TRAVEL / SNAPSHOT DIFF — a lake table keeps its old
    * snapshots addressable after new writes: v0 is the base orders
    * table, v1 is the io4-merged state (updates + inserts applied),
    * BOTH read "as of" their version from [[ordersLog]]'s one commit
    * log — time travel is nothing but planning from an old
    * snapshot's file list, since committed files are immutable and a
    * rewrite is remove+add, never overwrite. The query emits the
    * per-status diff (n/total at v0, at v1, and the deltas) — the
    * audit query every versioned pipeline runs after a merge. The
    * hash gate covers both snapshot reads AND the diff logic (the
    * oracle reconstructs v1 relationally, as io4's does). At 100 TB
    * snapshots share unchanged files through the log's file lists;
    * the diff pays two snapshot scans, nothing version-count-sized.
    */
  def io7TimeTravel(t: Tables): DataFrame = {
    val log = ordersLog(t)
    def snap(v: Long, tag: String) =
      log.read(t.spark, ordersSchema, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as(s"total_$tag"))
    snap(0L, "v0").join(snap(1L, "v1"), Seq("o_orderstatus"), "full")
      .select(col("o_orderstatus"),
        coalesce(col("n_v0"), lit(0L)).as("n_v0"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        (coalesce(col("n_v1"), lit(0L)) - coalesce(col("n_v0"), lit(0L)))
          .as("n_delta"),
        coalesce(col("total_v1"), lit(0.0)).as("total_v1"))
      .orderBy("o_orderstatus")
  }

  /** io8: CHANGE FEED (CDC) — the row-level diff between two lake
    * snapshots, the feed downstream consumers subscribe to instead of
    * re-reading the table (Delta CDF / Iceberg changelog shape).
    * v0 = base orders; v2 = io4's merged state with an ERASURE pass
    * applied (real keys ≡ 0 mod 50 dropped — the right-to-be-
    * forgotten delete every training-data lake must support). The
    * feed emits one row per changed key: inserts (synthetic negative
    * keys), updates (status/price changed by the merge), deletes
    * (erased keys), with absent sides filled ('NONE'/0.0 — no nulls
    * on the gate path). Both endpoints read from [[ordersLog]]'s one
    * commit log (v0 base, v2 post-erasure) — the same log io4/io7
    * serve from. Hash gate covers both snapshot round trips AND the
    * diff classification.
    *
    * Scale: ONE full-outer sort-merge join keyed by the primary key —
    * at 100 TB the log's commit actions identify the changed FILES
    * (only they need diffing; unchanged files appear in both
    * snapshots by identity) and the relational fallback below
    * restricts the join to their keys; the output is change-sized,
    * not table-sized.
    */
  def io8ChangeFeed(t: Tables): DataFrame = {
    val log = ordersLog(t)
    def snap(v: Long, tag: String) =
      log.read(t.spark, ordersSchema, v)
        .select(col("o_orderkey"), col("o_orderstatus").as(s"status_$tag"),
          col("o_totalprice").as(s"price_$tag"))
    snap(0L, "old").join(snap(2L, "new"), Seq("o_orderkey"), "full")
      .filter(col("status_old").isNull || col("status_new").isNull ||
        col("status_old") =!= col("status_new") ||
        col("price_old") =!= col("price_new"))
      .select(col("o_orderkey"),
        when(col("status_old").isNull, lit("insert"))
          .when(col("status_new").isNull, lit("delete"))
          .otherwise(lit("update")).as("change"),
        coalesce(col("status_old"), lit("NONE")).as("status_old"),
        coalesce(col("status_new"), lit("NONE")).as("status_new"),
        coalesce(col("price_old"), lit(0.0)).as("price_old"),
        coalesce(col("price_new"), lit(0.0)).as("price_new"))
      .orderBy("o_orderkey")
  }

  /** io4's merged state (base ∪ changes, changes win) as a frame —
    * shared by the io4 write path and io7's v1 snapshot.
    */
  private def mergedOrders(t: Tables): DataFrame = {
    val baseDir = stage(t, "merge_base", t.orders)(
      (df, d) => df.write.mode("overwrite").parquet(d))
    val base = t.spark.read.schema(ordersSchema).parquet(baseDir)
    val upd = t.orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    // insert keys are NEGATIVE (-(k+1)): orders keys are nonnegative
    // at every scale factor, so synthesized inserts can never collide
    // with a real key — an additive shift would collide once
    // max(o_orderkey) crossed it, making the merge window's tie-break
    // nondeterministic and divergent from the oracle's UNION
    val ins = t.orders.filter(col("o_orderkey") % 25 === 0)
      .withColumn("o_orderkey", -(col("o_orderkey") + 1L))
      .withColumn("o_orderstatus", lit("N"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey").orderBy(col("_v").desc)
    base.withColumn("_v", lit(0))
      .unionByName(upd.unionByName(ins).withColumn("_v", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_v", "_rn")
  }

  /** io6: SCHEMA EVOLUTION ON THE COMMIT LOG — a long-lived lake
    * table accretes columns over time: early batches were written
    * before a column existed, later batches carry it. Production
    * table formats carry the SCHEMA in commit metadata (Delta's
    * metaData action), which is what [[TableLog]] does here: gen1
    * (even keys, no `o_orderpriority`) commits under the 3-column
    * schema, an ALTER-style METADATA-ONLY commit declares the
    * 4-column schema (no data moves — evolution is a log line), gen2
    * (odd keys) commits carrying the new column. The read side serves
    * [[TableLog.schemaAt]]'s answer: at the head the evolved schema
    * null-fills gen1's legacy files; time travel to v0 serves the
    * 3-column schema of ITS era (TableLogSpec drills both). The
    * aggregate keys on the evolved column with old rows surfacing as
    * 'LEGACY'; `n_evolved` counts non-null priorities per group, so
    * the gate fails if null-filling is wrong in either direction.
    *
    * At 100 TB the schema read is ONE log line (no parquet footer is
    * opened to discover the schema — mergeSchema's per-file footer
    * pass doesn't scale past thousands of files), and history is
    * never rewritten: an added column costs exactly one metadata
    * commit.
    */
  def io6SchemaEvolution(t: Tables): DataFrame = {
    val log = evolvedLog(t)
    val head = log.latestVersion.get
    log.read(t.spark, log.schemaAt(head).get, head)
      .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY")).as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_price"),
        count(col("o_orderpriority")).as("n_evolved"))
      .orderBy("priority")
  }

  private[graft] val io6Gen1Schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))

  private[graft] val io6Gen2Schema =
    io6Gen1Schema.add("o_orderpriority", StringType)

  /** io6's evolving log: gen1 under the 3-column schema → ALTER
    * (metadata-only schema commit) → gen2 under the 4-column schema
    * (staged once; spec access via the returned handle).
    */
  private[graft] def evolvedLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:evolvelog", "io_evolvelog") {
      d =>
        val log = TableLog.open(d)
        t.orders.filter(col("o_orderkey") % 2 === 0)
          .select(io6Gen1Schema.fieldNames.map(col): _*)
          .write.mode("overwrite").parquet(s"$d/gen1")
        log.commit(TableLog.statsFor(t.spark, s"$d/gen1", "o_orderkey",
          io6Gen1Schema).map(TableLog.Add), tag = "gen1",
          schema = Some(io6Gen1Schema))
        // ALTER TABLE ADD COLUMN: one metadata line, no data touched
        log.commit(Nil, tag = "alter", schema = Some(io6Gen2Schema))
        t.orders.filter(col("o_orderkey") % 2 === 1)
          .select(io6Gen2Schema.fieldNames.map(col): _*)
          .write.mode("overwrite").parquet(s"$d/gen2")
        log.commit(TableLog.statsFor(t.spark, s"$d/gen2", "o_orderkey",
          io6Gen2Schema).map(TableLog.Add), tag = "gen2")
        ()
    }
    TableLog.open(root)
  }

  /** Staged dir for (corpus, tag) if already landed — spec access. */
  private[graft] def stagedDir(t: Tables, tag: String): Option[String] =
    graft.Staging.lookup(s"${t.dir}:$tag")

  /** Driver-side metadata sizing for the compaction target — a
    * planner stats read (file listing), not a data collect.
    */
  private[graft] def compactionFileCount(dir: String,
      targetBytes: Long): Int = {
    val total = graft.Fs.list(dir).filter(_.name.endsWith(".parquet"))
      .map(_.len).sum
    math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
  }

  /** io9: OPTIMIZE ZORDER BY — multi-dimensional clustering AS A
    * LAKE MAINTENANCE COMMIT (Delta/Iceberg `OPTIMIZE ... ZORDER BY
    * (user_id, value)`), unified into the [[TableLog]] family like
    * io12's size-binned OPTIMIZE: events land UNCLUSTERED and
    * committed (the streaming-sink arrival layout), then the ZORDER
    * pass maps each row's (user_id, value) to a point on the Z-curve
    * (min/max-normalize both dimensions to 16 bits, interleave the
    * bits — a pure projection), rewrites the snapshot range-
    * partitioned AND sorted by that z-value, and publishes
    * remove-unclustered + add-clustered in ONE tagged atomic commit
    * with per-file z-range stats in the log; VACUUM reclaims the
    * landing bytes. Because the Z-curve preserves locality in BOTH
    * dimensions, every file gets tight stats on user_id and value
    * simultaneously — a 2-D box predicate maps to a z-interval (the
    * box's corner z-values bound it, Morton monotonicity) and the
    * LOG's stats prune to the few files intersecting it, where a
    * single-column sort gives tight stats on one dimension only.
    * IoSpec measures the ≥2× file-pruning win through exactly this
    * log-first planning.
    *
    * Scale: the z-value is a pure projection (no shuffle to compute);
    * the ONE shuffle is the range-partitioner any clustered rewrite
    * pays. At 100 TB the pass is incremental (io12's offender
    * selection composes — rewrite only the unclustered tail) and the
    * normalization bounds come from the previous snapshot's stats (a
    * metadata read) — here a broadcast 1-row aggregate. Serving reads
    * the post-OPTIMIZE snapshot; the result is the z-value per row,
    * so the oracle replays normalize+interleave relationally: a hash
    * match proves the clustered rewrite kept every row and computed
    * the curve correctly.
    */
  def io9Zorder(t: Tables): DataFrame = {
    val log = zorderedLog(t)
    log.read(t.spark, io9Schema, log.latestVersion.get)
      .select("event_id", "zval")
      .orderBy("event_id")
  }

  private[graft] val io9Schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("zval", LongType)))

  /** io9's log: unclustered landing commit → tagged OPTIMIZE ZORDER
    * rewrite commit → vacuum to retain = 1 (staged once; spec access
    * via the returned handle).
    */
  private[graft] def zorderedLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:zorderlog", "io_zorderlog") {
      d =>
        val log = TableLog.open(d)
        zorderOf(t.events.select("event_id", "user_id", "value"),
          "user_id", "value")
          .repartition(8)
          .write.mode("overwrite").parquet(s"$d/land")
        log.commit(TableLog.statsFor(t.spark, s"$d/land", "zval",
          io9Schema).map(TableLog.Add), tag = "land")
        optimizeZorderPass(t.spark, log, s"$d/zorder", io9Schema, 8)
        log.vacuum(retain = 1)
        ()
    }
    TableLog.open(root)
  }

  /** The OPTIMIZE ZORDER pass: rewrite the latest snapshot range-
    * partitioned + sorted by the (precomputed) z-value into `nFiles`
    * files under `outDir`, publishing remove-old + add-new with
    * per-file z-range stats in ONE tagged commit through the OCC loop
    * (io12's protocol, z-ordering instead of size binning). A
    * redelivered pass finds its tag and no-ops.
    */
  private[graft] def optimizeZorderPass(spark: SparkSession,
      log: TableLog, outDir: String, schema: StructType, nFiles: Int,
      tag: String = "zorder"): Unit = {
    if (log.committed(tag)) return
    clusteredRewriteCommit(spark, log, outDir, schema, "zval", nFiles,
      tag)
  }

  /** The clustered-rewrite-as-a-commit core OPTIMIZE ZORDER (io9)
    * and the sinks' file-budget maintenance
    * ([[graft.streaming.Streams.sinkMaintain]]) share: rewrite the
    * latest snapshot range-partitioned + sorted by `keyCol` into
    * `nFiles` files under `outDir`, publish remove-old + add-new
    * with per-file `keyCol` stats in ONE tagged commit through the
    * OCC loop. The caller owns the trigger and the tag guard.
    */
  private[graft] def clusteredRewriteCommit(spark: SparkSession,
      log: TableLog, outDir: String, schema: StructType,
      keyCol: String, nFiles: Int, tag: String): Unit = {
    val snap = log.snapshot(log.latestVersion.get)
    spark.read.schema(schema).parquet(snap.map(_.path): _*)
      .repartitionByRange(nFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(outDir)
    val actions = snap.map(f => TableLog.Remove(f.path)) ++
      TableLog.statsFor(spark, outDir, keyCol, schema)
        .map(TableLog.Add)
    log.commitWithRetry(tag)(_ => actions)
    ()
  }

  /** The z-interval a 2-D box predicate maps to under `df`'s
    * normalization bounds: z(corner_lo) to z(corner_hi). Valid
    * because the Morton code is monotone in each coordinate — every
    * row inside the box z-sorts inside the corner span (loose: an
    * admitted file may hold non-matching rows, never the reverse).
    * This is the planner-side half of the ZORDER win: a 2-D predicate
    * becomes ONE stats range the log prunes on.
    */
  private[graft] def zorderRange(df: DataFrame, xCol: String,
      yCol: String, x0: Double, x1: Double, y0: Double,
      y1: Double): (Long, Long) = {
    val r = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double"))
      .head()
    def n16(v: Double, lo: Double, hi: Double): Long =
      if (hi == lo) 0L
      else math.min(65535L, math.max(0L,
        math.floor((v - lo) / (hi - lo) * 65535.0).toLong))
    def zOf(nx: Long, ny: Long): Long =
      (0 until 16).map(i =>
        (((nx >> i) & 1L) << (2 * i)) | (((ny >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    (zOf(n16(x0, r.getDouble(0), r.getDouble(1)),
        n16(y0, r.getDouble(2), r.getDouble(3))),
      zOf(n16(x1, r.getDouble(0), r.getDouble(1)),
        n16(y1, r.getDouble(2), r.getDouble(3))))
  }

  /** The corpus's clustered EVENTS table under its own [[TableLog]]:
    * events land range-partitioned + sorted by event_id ONCE, and the
    * commit records every file with its (min_id, max_id, n_rows)
    * stats — io10's manifest, st16's write-time sink and any future
    * range consumer plan against this same structure.
    */
  private[graft] def eventsLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:eventslog", "io_eventslog") {
      d =>
        t.events.select("event_id", "event_type", "value")
          .repartitionByRange(16, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(s"$d/v0")
        TableLog.open(d).commit(
          TableLog.statsFor(t.spark, s"$d/v0", "event_id", io10Schema)
            .map(TableLog.Add), tag = "clustered-landing")
        ()
    }
    TableLog.open(root)
  }

  /** io10: FILE-STATS MANIFEST PRUNING — the table-format metadata
    * layer (Iceberg/Delta manifests) as data: events land clustered
    * by event_id (range-partitioned + sorted) with their per-file
    * (min_id, max_id, n_rows) stats committed to [[eventsLog]]'s
    * commit log, and an id-range query plans against the log FIRST —
    * only the files whose [min, max] intersects the predicate range
    * are ever opened. This is file skipping one level above io9's
    * row-group stats: at 100 TB the stats are maintained AT WRITE
    * TIME (st16 is the streaming form of exactly this, on the same
    * TableLog), are millions of times smaller than the data, and are
    * what lets a planner prune a petabyte to a file list without
    * touching a single parquet footer.
    *
    * The file-list computation is bounded by the FILE count (the
    * log's entry count — a planner's working set by definition, like
    * s7's top-k collect). IoSpec asserts the chosen file set is a
    * strict subset and the pruned answer equals the full-scan
    * answer; the oracle checks the ANSWER (a plain range query over
    * events), because pruning must be invisible to results.
    */
  def io10StatsManifest(t: Tables): DataFrame = {
    val (lo, hi) = (100L, 399L)
    val log = eventsLog(t)
    // a fully-pruned range reads NOTHING — an empty relation, not a
    // zero-path read error (prunedRead's contract)
    log.prunedRead(t.spark, io10Schema, log.latestVersion.getOrElse(-1L),
        lo, hi)
      .filter(col("event_id").between(lo, hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  private[graft] val io10Schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The manifest-planning half of io10, exposed so the spec can
    * assert the pruning: returns (files whose stats admit [lo, hi],
    * total file count in the log's snapshot). Pure metadata — no
    * parquet footer is opened for a skipped file.
    */
  private[graft] def io10PrunedFiles(t: Tables, lo: Long,
      hi: Long): (Seq[String], Long) = {
    val log = eventsLog(t)
    // ONE snapshot replay serves both the admitted subset and the
    // total (prunedFiles would replay it a second time)
    val snap = log.snapshot(log.latestVersion.getOrElse(-1L))
    (snap.filter(f => f.maxKey >= lo && f.minKey <= hi)
      .map(_.path).sorted, snap.length.toLong)
  }

  /** io11: VACUUM — the maintenance pass that completes the
    * commit-log lifecycle (write → version → prune → checkpoint →
    * vacuum): a versioned table accretes remove+add rewrites forever,
    * and the files old snapshots reference are dead weight once the
    * retention window passes — Delta/Iceberg expire them with VACUUM
    * / expire_snapshots, exactly what [[TableLog.vacuum]] does. This
    * operator builds its own three-version orders table (base →
    * merge → erasure, io4/io7/io8's exact history, on a PRIVATE log
    * so the shared one keeps time-traveling), vacuums down to the
    * latest snapshot, and serves the post-vacuum aggregate: the hash
    * gate proves retention kept the LIVE version byte-intact while
    * TableLogSpec asserts the dead versions' bytes are physically
    * gone (and that a re-run deletes nothing more).
    *
    * Scale: vacuum is metadata planning (replay + one pass over Add
    * actions) plus O(deleted) file deletes — never a data scan; at
    * 100 TB it is the storage-cost lever (every rewrite otherwise
    * doubles the table's footprint forever).
    */
  def io11Vacuum(t: Tables): DataFrame = {
    val log = vacuumedLog(t)
    statusAgg(log.read(t.spark, ordersSchema, log.latestVersion.get))
  }

  /** io11's private three-version log, vacuumed to retain = 1 at
    * build time (staged once; spec access via the returned handle).
    */
  private[graft] def vacuumedLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:vacuumlog", "io_vacuumlog") {
      d =>
        val log = TableLog.open(d)
        landOrdersHistory(t, d, log)
        log.vacuum(retain = 1)
        ()
    }
    TableLog.open(root)
  }

  /** io12: OPTIMIZE — small-file compaction AS A COMMIT (io5's
    * maintenance pass unified into the lake family, Delta's
    * `OPTIMIZE` / Iceberg's `rewrite_data_files`): documents land as
    * 64 small shards committed to a private [[TableLog]], the
    * OPTIMIZE pass rewrites them into ⌈bytes/target⌉ right-sized
    * files and publishes remove-small + add-big in ONE tagged atomic
    * commit (a redelivered pass is dropped by its tag), then VACUUM
    * reclaims the dead shards — land → optimize → vacuum, the full
    * maintenance lifecycle on one log. The hash gate is a
    * content-fingerprint aggregate (per-lang counts + md5 extremes)
    * over the post-optimize snapshot: it matches the raw table iff
    * the rewrite moved every byte faithfully. TableLogSpec asserts
    * the structural claims (file count shrank, dead shard bytes
    * physically gone, the optimize commit is tagged).
    *
    * Scale: OPTIMIZE picks its rewrite set from the LOG's metadata
    * (per-file row counts — the small-file offenders are visible
    * without touching data), rewrites ONLY those files, and commits
    * the swap atomically while concurrent readers keep serving the
    * old snapshot; at 100 TB the pass is incremental and
    * bin-packable per partition, never a full-table rewrite.
    */
  def io12OptimizeCompact(t: Tables,
      targetBytes: Long = 8L << 20): DataFrame = {
    val log = optimizedLog(t, targetBytes)
    langFingerprint(
      log.read(t.spark, t.documents.schema, log.latestVersion.get))
  }

  /** io13: SHALLOW CLONE — a ZERO-COPY clone of a versioned table
    * (Delta `CREATE TABLE ... SHALLOW CLONE` / Iceberg snapshot
    * branching): one metadata-only commit at a NEW log root whose
    * Add actions reference the SOURCE's live snapshot files — no
    * data byte moves, however large the table. The clone then
    * evolves independently: commits to it never touch the source's
    * log (spec-drilled with a post-clone append diverging the clone
    * while the source's version and file list stay frozen), which is
    * the dev/test-against-production-data workflow clones exist for.
    * Serving reads the clone's snapshot — byte-identical to the
    * source's live state, [[ordersLog]]'s v2 reconstruction (the
    * hash gate).
    *
    * The documented shallow-clone hazard is preserved faithfully:
    * the clone BORROWS the source's files, so a SOURCE vacuum can
    * strand it (Delta documents exactly this); the clone's own
    * vacuum is safe — its retained snapshot references the borrowed
    * files, so they are never its dead set (spec-asserted).
    *
    * Scale: the clone commit is O(source file count) metadata — a
    * 100 TB table clones in planner time; the clone's log is the
    * same TableLog machinery, so OPTIMIZE/VACUUM/CDC compose on it
    * unchanged.
    */
  def io13ShallowClone(t: Tables): DataFrame = {
    val log = clonedLog(t)
    // serve the CLONE-POINT version (the tagged clone commit), not
    // the head: the operator's claim is "the clone captures the
    // source's live state", and the clone is free to diverge after
    // (TableLogSpec drills exactly that) without moving this answer
    statusAgg(log.read(t.spark, ordersSchema,
      log.tagVersion("clone").get))
  }

  /** io13's clone root: ONE metadata commit referencing the source
    * ordersLog's live snapshot files (staged once; spec access via
    * the returned handle).
    */
  private[graft] def clonedLog(t: Tables): TableLog = {
    val src = ordersLog(t)
    val root = graft.Staging.dir(s"${t.dir}:clonelog", "io_clonelog") {
      d =>
        val files = src.latestVersion.toSeq.flatMap(src.snapshot)
        TableLog.open(d).commit(files.map(TableLog.Add), tag = "clone")
        ()
    }
    TableLog.open(root)
  }

  /** io14: CHECK CONSTRAINTS AT COMMIT (Delta `ALTER TABLE ADD
    * CONSTRAINT`): a versioned table declares a row-wise invariant
    * (`o_totalprice >= 0 AND o_orderkey IS NOT NULL` here) and the
    * commit path ENFORCES it — a batch with any violating row is
    * rejected whole, before a single file lands (no orphans, no
    * version minted), while admissible batches commit normally. The
    * quality gate every curated lake runs at the write boundary: bad
    * data is refused at ingest, not discovered downstream. The pass
    * lands the base orders (admissible), then attempts a poisoned
    * changeset (negative prices — REJECTED, drilled in-line), then
    * an admissible changeset (committed); serving aggregates the
    * live state = base + the good changeset, which is what the hash
    * gate reconstructs.
    *
    * Scale: the enforcement scan is BATCH-sized (one filter+count
    * over the arrivals — never the table), and the declared
    * constraint is catalog metadata in the log dir; at 100 TB the
    * same check rides every incremental commit unchanged.
    */
  def io14CheckConstraint(t: Tables): DataFrame = {
    val log = constrainedLog(t)
    statusAgg(log.read(t.spark, ordersSchema, log.latestVersion.get))
  }

  /** io14's private constrained log: declare → land base → reject a
    * poisoned changeset → commit an admissible one (staged once;
    * spec access via the returned handle).
    */
  private[graft] def constrainedLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:conslog", "io_conslog") { d =>
      graft.api.Graft.tableConstrain(d,
        "o_totalprice >= 0 AND o_orderkey IS NOT NULL")
      graft.api.Graft.tableCommit(
        t.orders.select(ordersSchema.fieldNames.map(col): _*),
        d, "o_orderkey", tag = "base")
      // the poisoned changeset MUST bounce: negative prices violate
      val poisoned = t.orders.limit(8)
        .select(ordersSchema.fieldNames.map(col): _*)
        .withColumn("o_totalprice", lit(-1.0))
      val rejected =
        try { graft.api.Graft.tableCommit(poisoned, d, "o_orderkey"); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "io14: poisoned commit was not rejected")
      // an admissible changeset sails through: synthetic insert keys
      val good = t.orders.filter(col("o_orderkey") % 100 === 0)
        .select(ordersSchema.fieldNames.map(col): _*)
        .withColumn("o_orderkey", -(col("o_orderkey") + 1))
      graft.api.Graft.tableCommit(good, d, "o_orderkey", tag = "good")
      ()
    }
    TableLog.open(root)
  }

  /** io15: ROW-LEVEL EXPECTATIONS WITH QUARANTINE (Delta Live
    * Tables' `expect ... ON VIOLATION` / the dead-letter-queue
    * pattern) — io14 rejects a violating batch WHOLE; io15 is the
    * other production policy: each row is classified against named
    * expectations (`neg_price`: o_totalprice ≥ 0; `null_key`:
    * o_orderkey present — first failure names the reason), passing
    * rows flow to the MAIN table and failing rows land in a
    * QUARANTINE table carrying their reason — bad data is kept,
    * inspectable, and replayable after a fix, instead of silently
    * dropped or blocking the pipeline. Both destinations are
    * first-class [[TableLog]] tables (tagged commits, the full lake
    * lifecycle). The batch is the orders table with a deterministic
    * poisoning (keys ≡ 0 mod 37 get negated prices), so the gate
    * reconstructs exactly which rows must sit on which side.
    *
    * Scale: classification is a pure projection fused with the
    * batch scan; the split lands in ONE pass (`partitionBy(dest)` —
    * not a filtered scan per destination); each side's commit is
    * file-count metadata. Serving aggregates per (dest, reason).
    */
  def io15Expectations(t: Tables): DataFrame = {
    val (mainLog, qLog) = expectationLogs(t)
    quarantineServe(t.spark, mainLog, qLog, io15Schema, "o_orderkey",
      "o_totalprice", "total_price", "min_key", "max_key")
  }

  /** The per-(dest, reason) aggregate over a main/quarantine table
    * pair's live snapshots — io15's serving, shared verbatim by
    * st19's streaming form (both oracles gate the same decimal-sum
    * contract, so it must live in ONE place). An empty log serves as
    * an empty side, never a crash.
    */
  private[graft] def quarantineServe(
      spark: org.apache.spark.sql.SparkSession, mainLog: TableLog,
      qLog: TableLog, schema: StructType, keyCol: String,
      valueCol: String, totalAs: String, minAs: String,
      maxAs: String): DataFrame = {
    def side(log: TableLog, dest: String) =
      log.read(spark, schema, log.latestVersion.getOrElse(-1L))
        .select(col(keyCol), col(valueCol),
          lit(dest).as("dest"), coalesce(col("reason"), lit("")).as("reason"))
    side(mainLog, "main").unionByName(side(qLog, "quarantine"))
      .groupBy("dest", "reason")
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(DecimalType(18, 2))).cast("double")
          .as(totalAs),
        min(keyCol).as(minAs),
        max(keyCol).as(maxAs))
      .orderBy("dest", "reason")
  }

  private[graft] val io15Schema = StructType(Seq(
    StructField("o_orderkey", org.apache.spark.sql.types.LongType),
    StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
    StructField("reason", org.apache.spark.sql.types.StringType)))

  /** io15's private logs: ONE classified landing pass split by dest,
    * each destination committed (tagged) to its own TableLog.
    */
  private[graft] def expectationLogs(t: Tables): (TableLog, TableLog) = {
    val root = graft.Staging.dir(s"${t.dir}:explog", "io_explog")(
      landExpectations(t, _))
    (TableLog.open(s"$root/main"), TableLog.open(s"$root/quarantine"))
  }

  /** io15's landing pass, factored so io16's replay can build the
    * SAME pre-replay state on its own root: classify the poisoned
    * orders batch, split by dest in one pass, commit each side tagged.
    */
  private def landExpectations(t: Tables, d: String): Unit = {
    val batch = t.orders.select(col("o_orderkey"),
      when(col("o_orderkey") % 37 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")).as("o_totalprice"))
    val classified = batch
      .withColumn("reason",
        when(col("o_totalprice") < 0, lit("neg_price"))
          .when(col("o_orderkey").isNull, lit("null_key")))
      .withColumn("dest",
        when(col("reason").isNull, lit("main")).otherwise(lit("quarantine")))
    classified.write.partitionBy("dest").mode("overwrite")
      .parquet(s"$d/landing")
    def commitSide(sub: String, logDir: String): Unit = {
      TableLog.commitDir(t.spark, TableLog.open(logDir),
        s"$d/landing/dest=$sub", "o_orderkey", io15Schema, tag = "b0")
      ()
    }
    commitSide("main", s"$d/main")
    commitSide("quarantine", s"$d/quarantine")
  }

  /** io16: QUARANTINE REPLAY — the closing move of the expectations
    * lifecycle (io15's promise "bad data is kept and REPLAYABLE after
    * a fix", made an operator): the `neg_price` expectation turns out
    * to be wrong for refund accounts (even keys here — the corrected
    * rule admits `o_totalprice >= 0 OR o_orderkey % 2 = 0`), so the
    * quarantined rows are re-run through the CORRECTED expectation
    * set in one pass — survivors COMMIT TO MAIN and the replayed rows
    * RETIRE FROM QUARANTINE (remove-live + add-still-failing) in one
    * tagged pair of commits, st19's two-destination protocol in
    * reverse: a redelivered replay finds both tags and no-ops; a
    * crash between the two commits completes the missing side from
    * the landed files WITHOUT re-landing (TableLogSpec drills both).
    * Still-failing rows stay quarantined under their re-classified
    * reason; quarantine's dead bytes are vacuumed after the pass.
    *
    * Scale: the replay scans the QUARANTINE table only (violation-
    * sized, never corpus-sized), the split lands in one
    * `partitionBy(dest)` pass, and each side's commit is file-count
    * metadata — the whole fix-and-replay costs what the bad data
    * weighs, which is the point of quarantining instead of dropping.
    */
  def io16QuarantineReplay(t: Tables): DataFrame = {
    val (mainLog, qLog) = replayedLogs(t)
    quarantineServe(t.spark, mainLog, qLog, io15Schema, "o_orderkey",
      "o_totalprice", "total_price", "min_key", "max_key")
  }

  /** io16's corrected expectation set: the first failing rule names
    * the reason, rows passing every rule re-enter main.
    */
  private def io16CorrectedReason: org.apache.spark.sql.Column =
    when(!(col("o_totalprice") >= 0 || col("o_orderkey") % 2 === 0),
      lit("neg_price"))

  /** io16's private pair: io15's exact pre-replay state on its own
    * root, then ONE replay pass + quarantine vacuum (staged once;
    * spec access via the returned handles).
    */
  private[graft] def replayedLogs(t: Tables): (TableLog, TableLog) = {
    val root = graft.Staging.dir(s"${t.dir}:replaylog", "io_replaylog") {
      d =>
        landExpectations(t, d)
        val qLog = TableLog.open(s"$d/quarantine")
        quarantineReplayPass(t.spark, TableLog.open(s"$d/main"), qLog,
          s"$d/replay0", io15Schema, "o_orderkey", io16CorrectedReason,
          tag = "replay-b0")
        qLog.vacuum(retain = 1)
        ()
    }
    (TableLog.open(s"$root/main"), TableLog.open(s"$root/quarantine"))
  }

  /** ONE quarantine-replay pass: re-classify the quarantine table's
    * live rows under `correctedReason` (NULL = survives), land the
    * split under `outDir` in one pass, then commit survivors to MAIN
    * (add) and retire the replayed rows from QUARANTINE (remove its
    * live snapshot + add the still-failing remainder) — each side
    * tagged with `tag`. Redelivery-idempotent by the two-destination
    * protocol: both tags ⇒ no-op; neither ⇒ land then commit both;
    * exactly one ⇒ the landing from the committed attempt is intact,
    * commit only the missing side from it (re-landing would rewrite
    * files the committed side's log already references).
    */
  private[graft] def quarantineReplayPass(spark: SparkSession,
      mainLog: TableLog, qLog: TableLog, outDir: String,
      schema: StructType, keyCol: String,
      correctedReason: org.apache.spark.sql.Column, tag: String): Unit = {
    val mainDone = mainLog.committed(tag)
    val qDone = qLog.committed(tag)
    if (mainDone && qDone) return
    if (!mainDone && !qDone) {
      qLog.read(spark, schema, qLog.latestVersion.getOrElse(-1L))
        .withColumn("reason", correctedReason)
        .withColumn("dest",
          when(col("reason").isNull, lit("main"))
            .otherwise(lit("quarantine")))
        .write.partitionBy("dest").mode("overwrite").parquet(outDir)
    }
    if (!mainDone) {
      TableLog.commitDir(spark, mainLog, s"$outDir/dest=main", keyCol,
        schema, tag)
      ()
    }
    if (!qDone) {
      // retire: the ENTIRE pre-replay live snapshot leaves (it was
      // replayed whole), the still-failing remainder re-enters under
      // its re-classified reason — one atomic commit
      val removes = qLog.latestVersion.toSeq.flatMap(qLog.snapshot)
        .map(f => TableLog.Remove(f.path))
      val remDir = s"$outDir/dest=quarantine"
      val adds =
        if (graft.Fs.stat(remDir).exists(_.isDir))
          TableLog.statsFor(spark, remDir, keyCol, schema)
            .map(TableLog.Add)
        else Nil
      qLog.commit(removes ++ adds, tag)
      ()
    }
  }

  /** io17: RESTORE TO VERSION — the lake's rollback move (Delta
    * `RESTORE TABLE … TO VERSION AS OF`): a bad write (here the
    * erasure pass of the io4/io8 history) is undone by committing the
    * TARGET version's file list as the NEW HEAD — remove every
    * current file absent from the target snapshot, re-add every
    * target file the head dropped. METADATA-ONLY: zero data bytes
    * move; the re-added files never left the data dir (committed
    * files are immutable — only vacuum deletes). The restore is
    * itself a new version, so the mis-write stays addressable for
    * audit and a restore can itself be restored away; re-running it
    * commits nothing (the head already serves the target's list).
    * The query emits the per-status restored-vs-previous-head diff —
    * merge updates reverted ('U' gone), synthetic inserts gone
    * ('N'), erased keys back — under the full hash gate.
    *
    * Scale: planning is two snapshot listings + a set difference —
    * O(file count) metadata, nothing data-sized (Delta RESTORE's
    * cost profile). The real hazard is vacuum interplay: a
    * retain-only-head vacuum AFTER the restore reclaims exactly the
    * mis-write's exclusive files while the restored head keeps
    * serving (its files are referenced again) — TableLogSpec drills
    * that order; restore-then-vacuum is the rollback runbook.
    */
  def io17Restore(t: Tables): DataFrame = {
    val log = restoredLog(t)
    val head = log.latestVersion.get
    val restored = log.read(t.spark, ordersSchema, head)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_restored"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total_restored"))
    val prev = log.read(t.spark, ordersSchema, head - 1)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_prev"))
    restored.join(prev, Seq("o_orderstatus"), "full")
      .select(col("o_orderstatus"),
        coalesce(col("n_restored"), lit(0L)).as("n_restored"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        (coalesce(col("n_restored"), lit(0L)) -
          coalesce(col("n_prev"), lit(0L))).as("n_delta"),
        coalesce(col("total_restored"), lit(0.0)).as("total_restored"))
      .orderBy("o_orderstatus")
  }

  /** io17's private log: the io4/io8 three-version history landed on
    * its OWN root (the shared [[ordersLog]] must keep its head at
    * the erasure state for io8/io11), then ONE restore-to-v0 commit.
    * No vacuum here — the operator reads the pre-restore head for
    * its diff; the vacuum ordering is TableLogSpec's drill.
    */
  private[graft] def restoredLog(t: Tables): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:restorelog", "io_restorelog") {
      d =>
        val log = TableLog.open(d)
        landOrdersHistory(t, d, log)
        restorePass(log, 0L)
        ()
    }
    TableLog.open(root)
  }

  /** ONE restore pass: commit `toV`'s snapshot as the new head of
    * `log` — remove current-only files, re-add target-only files,
    * and (Delta RESTORE's metaData re-commit) carry the TARGET
    * version's schema line when it differs from the head's, so a
    * restore across an ALTER boundary serves the target era's schema
    * instead of the post-ALTER one over pre-ALTER files.
    * Returns the committed version, or None when the head already
    * serves exactly `toV`'s file list AND schema (idempotent re-run,
    * restore to self). The commit claims head+1 EXPLICITLY (no OCC
    * rebase): a writer landing between planning and claim must
    * CONFLICT the restore rather than be silently rolled back by it —
    * a lost claim throws and the caller re-decides against the new
    * head.
    */
  private[graft] def restorePass(log: TableLog, toV: Long): Option[Long] = {
    val head = log.latestVersion.getOrElse(
      throw new IllegalArgumentException("restore on an empty log"))
    val cur = log.snapshot(head)
    val tgt = log.snapshot(toV)
    // schema rollback: when the target era declared a different
    // schema than the head's, the restore commit must re-declare it
    // (schemaAt resolves the NEWEST line at-or-below a version, so
    // without this line the restored head would keep the post-ALTER
    // schema). Both reads are metadata-bounded (schemaAt's
    // checkpoint-floored scan). BOUNDARY (declared contract, drilled
    // in TableLogSpec): rollback applies between DECLARED eras — a
    // target that PREDATES the first schema declaration has nothing
    // to re-declare (the line format has no "clear" marker, and that
    // era's readers always supplied schemas externally), so the
    // head's declaration stays in force; Delta has no analogue
    // because its tables carry metadata from v0.
    val tgtSchema = log.schemaAt(toV)
    val schemaDelta = tgtSchema.filter(s => !log.schemaAt(head).contains(s))
    val curPaths = cur.map(_.path).toSet
    val tgtPaths = tgt.map(_.path).toSet
    val removes = cur.filterNot(f => tgtPaths(f.path))
      .map(f => TableLog.Remove(f.path))
    val adds = tgt.filterNot(f => curPaths(f.path)).map(TableLog.Add)
    // Delta's RESTORE refusal: a target past the vacuum horizon
    // replays a file list whose exclusive bytes are gone — committing
    // it would mint a head that throws on every read. Check the
    // RE-ADDED paths (current-snapshot files are live by invariant)
    // and refuse the whole restore rather than corrupt the head.
    val missing = adds.map(_.f.path).filter(graft.Fs.stat(_).isEmpty)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"restore to v$toV impossible: ${missing.size} of its files " +
          s"were vacuumed (first: ${missing.head}); the target is past " +
          "the vacuum horizon")
    if (removes.isEmpty && adds.isEmpty && schemaDelta.isEmpty) None
    else Some(log.commit(removes ++ adds, tag = s"restore-v$toV",
      atVersion = Some(head + 1L), schema = schemaDelta))
  }

  /** Per-lang content fingerprint: count, char sum, md5 extremes —
    * collision-proof evidence the served rows are exactly the base
    * table's.
    */
  private def langFingerprint(df: DataFrame): DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
        min(md5(col("text"))).as("md5_min"),
        max(md5(col("text"))).as("md5_max"))
      .orderBy("lang")

  /** io12's private log: 64-shard landing commit, tagged OPTIMIZE
    * rewrite commit, vacuum to retain = 1 (staged once; spec access
    * via the returned handle).
    */
  private[graft] def optimizedLog(t: Tables, targetBytes: Long): TableLog = {
    val root = graft.Staging.dir(s"${t.dir}:optlog:$targetBytes",
      "io_optlog") { d =>
      val log = TableLog.open(d)
      val docSchema = t.documents.schema
      t.documents.repartition(64).write.mode("overwrite")
        .parquet(s"$d/small")
      log.commit(TableLog.statsFor(t.spark, s"$d/small", "doc_id",
        docSchema).map(TableLog.Add), tag = "land")
      optimizePass(t.spark, log, s"$d/opt", docSchema, "doc_id",
        targetBytes)
      log.vacuum(retain = 1)
      ()
    }
    TableLog.open(root)
  }

  /** The OPTIMIZE pass itself: partition the latest snapshot into
    * small-file OFFENDERS (< targetBytes/2 on disk — pure file-size
    * metadata, no data read) and right-sized files, rewrite ONLY the
    * offenders into ⌈their bytes / target⌉ files under `outDir`, and
    * publish remove-offenders + add-rewritten in ONE tagged atomic
    * commit — right-sized files are never touched, which is what
    * keeps the pass incremental at scale. A redelivered pass finds
    * its tag and no-ops; a snapshot with no offenders commits
    * nothing.
    */
  private[graft] def optimizePass(spark: SparkSession, log: TableLog,
      outDir: String, schema: StructType, keyCol: String,
      targetBytes: Long, tag: String = "optimize"): Unit = {
    if (log.committed(tag)) return
    val snap = log.snapshot(log.latestVersion.get)
    def bytes(p: String) = graft.Fs.stat(p)
      .getOrElse(throw new java.io.FileNotFoundException(p)).len
    val offenders = snap.filter(f => bytes(f.path) < targetBytes / 2)
    if (offenders.isEmpty) return
    val total = offenders.map(f => bytes(f.path)).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    spark.read.schema(schema).parquet(offenders.map(_.path): _*)
      .coalesce(n).write.mode("overwrite").parquet(outDir)
    // published through the OCC loop: a concurrent APPEND landing
    // between our read and our claim just rebases this commit one
    // version later; a concurrent rewrite of one of our offenders is
    // a true conflict and aborts the pass (re-run re-plans)
    val actions = offenders.map(f => TableLog.Remove(f.path)) ++
      TableLog.statsFor(spark, outDir, keyCol, schema)
        .map(TableLog.Add)
    log.commitWithRetry(tag)(_ => actions)
    ()
  }

  /** Input columns + `zval` = 32-bit Z-curve index of the
    * min/max-normalized (xCol, yCol). Constant columns normalize to 0
    * (the CASE guard) instead of dividing by zero. The bounds are a
    * broadcast 1-row aggregate (a metadata read at cluster scale).
    */
  private[graft] def zorderOf(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val b = df.agg(
      min(col(xCol)).cast("double").as("zx0"),
      max(col(xCol)).cast("double").as("zx1"),
      min(col(yCol)).cast("double").as("zy0"),
      max(col(yCol)).cast("double").as("zy1"))
    def norm16(x: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(hi === lo, lit(0L))
        .otherwise(floor((x - lo) / (hi - lo) * lit(65535.0)))
    val z = (0 until 16).flatMap { i =>
      Seq(shiftleft(shiftright(col("nx"), i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(col("ny"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.crossJoin(broadcast(b))
      .withColumn("nx", norm16(col(xCol).cast("double"), col("zx0"), col("zx1")))
      .withColumn("ny", norm16(col(yCol).cast("double"), col("zy0"), col("zy1")))
      .withColumn("zval", z)
      .drop("zx0", "zx1", "zy0", "zy1", "nx", "ny")
  }

  /** The z-interleave as SQL (both engines fold the same 32 terms). */
  private def zInterleaveSql(x: String, y: String): String =
    (0 until 16).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** The LIVE (post-erasure v2) orders state's relational
    * reconstruction, status-aggregated — the shared gate for every
    * operator whose claim is "serves the live snapshot exactly"
    * (io11's retention, io13's zero-copy clone, st18's mirror).
    */
  private[graft] val oracleLiveOrders: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |    o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |ins AS (
      |  SELECT -(o_orderkey + 1) AS o_orderkey, o_custkey,
      |    'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 25 = 0),
      |v1 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 <> 0
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins),
      |v2 AS (
      |  SELECT * FROM v1
      |  WHERE NOT (o_orderkey >= 0 AND o_orderkey % 50 = 0))
      |SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val oracle: Map[String, String] = Map(
    "io9_zorder" ->
      s"""WITH b AS (
         |  SELECT CAST(min(user_id) AS DOUBLE) AS ux0,
         |         CAST(max(user_id) AS DOUBLE) AS ux1,
         |         min(value) AS vy0, max(value) AS vy1
         |  FROM events),
         |n AS (
         |  SELECT event_id,
         |    CASE WHEN ux1 = ux0 THEN 0
         |         ELSE CAST(floor((CAST(user_id AS DOUBLE) - ux0) / (ux1 - ux0) * 65535.0) AS BIGINT)
         |    END AS nx,
         |    CASE WHEN vy1 = vy0 THEN 0
         |         ELSE CAST(floor((value - vy0) / (vy1 - vy0) * 65535.0) AS BIGINT)
         |    END AS ny
         |  FROM events, b)
         |SELECT event_id,
         |  CAST(${zInterleaveSql("nx", "ny")} AS BIGINT) AS zval
         |FROM n ORDER BY event_id""".stripMargin,
    "io1_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "io2_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  min(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the oracle checks the ANSWER of the range query — manifest
    // pruning must be invisible to results
    "io10_stats_manifest" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id BETWEEN 100 AND 399
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "io3_partitioned_prune" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // relational reconstruction of the merge: unmatched base rows ∪
    // updates ∪ inserts (columns listed explicitly — UNION is
    // positional)
    "io4_upsert_merge" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -(o_orderkey + 1) AS o_orderkey, o_custkey,
        |    'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 25 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the post-vacuum LIVE snapshot is io4's merge minus the erased
    // a zero-copy clone serves the source's live state byte-identically
    // — the same v2 reconstruction; independence and the borrowed-file
    // vacuum semantics are TableLogSpec's structural claims
    "io13_shallow_clone" -> oracleLiveOrders,
    // each poisoned row must sit in quarantine under its reason and
    // every clean row in main — the reconstruction replays the
    // deterministic poisoning and the expectation classification
    "io15_expectations" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 37 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |cls AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_totalprice < 0 THEN 'neg_price'
        |         WHEN o_orderkey IS NULL THEN 'null_key' END AS reason
        |  FROM b)
        |SELECT CASE WHEN reason IS NULL THEN 'main'
        |            ELSE 'quarantine' END AS dest,
        |  coalesce(reason, '') AS reason, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM cls GROUP BY 1, 2 ORDER BY dest, reason""".stripMargin,
    // post-replay state: the original classification, then the
    // quarantined rows re-run under the CORRECTED expectation —
    // survivors join main (reason cleared), the rest stay under the
    // re-classified reason
    "io16_quarantine_replay" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 37 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |cls AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_totalprice < 0 THEN 'neg_price'
        |         WHEN o_orderkey IS NULL THEN 'null_key' END AS reason
        |  FROM b),
        |rq AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN NOT (o_totalprice >= 0 OR o_orderkey % 2 = 0)
        |         THEN 'neg_price' END AS reason
        |  FROM cls WHERE reason IS NOT NULL),
        |fin AS (
        |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS reason
        |  FROM cls WHERE reason IS NULL
        |  UNION ALL SELECT * FROM rq)
        |SELECT CASE WHEN reason IS NULL THEN 'main'
        |            ELSE 'quarantine' END AS dest,
        |  coalesce(reason, '') AS reason, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM fin GROUP BY 1, 2 ORDER BY dest, reason""".stripMargin,
    // live state = base + the ADMISSIBLE changeset only — the
    // poisoned batch left no version, no rows, no trace (rejection
    // is what the reconstruction-without-it proves)
    "io14_check_constraint" ->
      """WITH good AS (
        |  SELECT -(o_orderkey + 1) AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |v AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL SELECT * FROM good)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM v GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // keys — retention must keep it byte-intact, so the oracle is its
    // relational reconstruction (deletion of the dead versions is
    // asserted by TableLogSpec, invisible to answers by design)
    "io11_vacuum" -> oracleLiveOrders,
    // v2 = io4's relational merge minus erased keys; row-level full-
    // join diff classified insert/update/delete, sides NONE/0-filled
    "io8_change_feed" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -(o_orderkey + 1) AS o_orderkey, 'N' AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 25 = 0),
        |v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |v2 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (o_orderkey >= 0 AND o_orderkey % 50 = 0))
        |SELECT coalesce(o.o_orderkey, v.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |       WHEN v.o_orderkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS change,
        |  coalesce(o.o_orderstatus, 'NONE') AS status_old,
        |  coalesce(v.o_orderstatus, 'NONE') AS status_new,
        |  coalesce(o.o_totalprice, CAST(0.0 AS DOUBLE)) AS price_old,
        |  coalesce(v.o_totalprice, CAST(0.0 AS DOUBLE)) AS price_new
        |FROM orders o FULL JOIN v2 v ON o.o_orderkey = v.o_orderkey
        |WHERE o.o_orderkey IS NULL OR v.o_orderkey IS NULL
        |   OR o.o_orderstatus <> v.o_orderstatus
        |   OR o.o_totalprice <> v.o_totalprice
        |ORDER BY o_orderkey""".stripMargin,
    // v0 = orders, v1 = io4's relational merge; full-join diff with
    // zero-filled absent sides (status 'N' exists only at v1)
    "io7_time_travel" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -(o_orderkey + 1) AS o_orderkey, 'N' AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 25 = 0),
        |v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |s0 AS (
        |  SELECT o_orderstatus, count(*) AS n_v0
        |  FROM orders GROUP BY o_orderstatus),
        |s1 AS (
        |  SELECT o_orderstatus, count(*) AS n_v1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_v1
        |  FROM v1 GROUP BY o_orderstatus)
        |SELECT o_orderstatus,
        |  coalesce(n_v0, 0) AS n_v0, coalesce(n_v1, 0) AS n_v1,
        |  coalesce(n_v1, 0) - coalesce(n_v0, 0) AS n_delta,
        |  coalesce(total_v1, 0.0) AS total_v1
        |FROM s0 FULL JOIN s1 USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,
    // restored head = the base orders table verbatim; previous head =
    // v2 (io4's relational merge minus erased keys) — the diff shows
    // the rollback: 'U'/'N' strata vanish, erased keys return
    "io17_restore" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (
        |  SELECT -(o_orderkey + 1) AS o_orderkey, 'N' AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 25 = 0),
        |v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |v2 AS (
        |  SELECT * FROM v1
        |  WHERE NOT (o_orderkey >= 0 AND o_orderkey % 50 = 0)),
        |sr AS (
        |  SELECT o_orderstatus, count(*) AS n_restored,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total_restored
        |  FROM orders GROUP BY o_orderstatus),
        |sp AS (
        |  SELECT o_orderstatus, count(*) AS n_prev
        |  FROM v2 GROUP BY o_orderstatus)
        |SELECT o_orderstatus,
        |  coalesce(n_restored, 0) AS n_restored,
        |  coalesce(n_prev, 0) AS n_prev,
        |  coalesce(n_restored, 0) - coalesce(n_prev, 0) AS n_delta,
        |  coalesce(total_restored, 0.0) AS total_restored
        |FROM sr FULL JOIN sp USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,
    // relational twin of the two-generation read: even keys never had
    // the priority column (→ LEGACY, n_evolved 0), odd keys carry it
    "io6_schema_evolution" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |         ELSE o_orderpriority END AS pri
        |  FROM orders)
        |SELECT coalesce(pri, 'LEGACY') AS priority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  count(pri) AS n_evolved
        |FROM m GROUP BY 1 ORDER BY priority""".stripMargin,
    // same shape as io1: the per-row fingerprint of the compacted
    // read-back must equal the original table
    "io5_compaction" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the post-OPTIMIZE snapshot must be the base table byte-for-
    // byte — the oracle is its per-lang content fingerprint (file
    // layout changes are asserted by TableLogSpec, invisible to
    // answers by design)
    "io12_optimize_compact" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(md5(text)) AS md5_min, max(md5(text)) AS md5_max
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}
