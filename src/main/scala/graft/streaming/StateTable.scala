package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import Streams._

/** The maintained-state table engine every maintained index family
  * (st13 groups, st14 text index, st15 vector index, st18's mirror)
  * runs on. A family describes its tables as [[StateTable.Spec]]s —
  * name, schema, layout, compaction rule — and the handle owns the
  * rest:
  *
  *  - the CURRENT table dirs (the generation the root's rewrite log
  *    serves, plain `root/<table>` before the first rewrite) and the
  *    CURRENT bucket count (the head rewrite commit's `nb=` tag, else
  *    `nbuckets.meta`, else the opening count) — single-writer
  *    contract: probes and the compactor share the handle, so a flip
  *    or re-bucketing is visible to every later read;
  *  - open/resume ([[StateTable.open]]): resolve generations, sweep
  *    torn/superseded ones, wipe uncommitted batch remnants, resume
  *    the bucket count, run the epoch barrier;
  *  - the read that folds the empty-dir case ([[read]]: no
  *    first-batch or first-session special case at call sites, so
  *    "open over an existing root" is the same path as "open fresh");
  *  - the ONE tagged batch append ([[appendBatch]]) and the ONE
  *    rewrite-commit path ([[rewrite]]) compaction publishes through.
  *
  * The layout/marker/generation primitives themselves (rewrite
  * commits, batch markers, low-water retirement, epochs) live in
  * [[Streams]]; see the blocks above [[Streams.commitStateRewrite]]
  * and [[Streams.batchCommitted]] for their crash-safety contracts.
  */
private[graft] final class StateTable private (
    val spark: SparkSession, val root: String,
    val family: StateTable.Family, defaultBuckets: Int,
    compactAboveFiles: Int, targetBucketBytes: Long) {
  import StateTable._

  private val tables: Seq[String] = family.tables.map(_.name)

  private val dirsRef =
    new java.util.concurrent.atomic.AtomicReference(
      resolveStateDirs(root, tables))
  private val nBucketsRef =
    new java.util.concurrent.atomic.AtomicInteger(defaultBuckets)

  private def spec(t: String): Spec =
    family.tables.find(_.name == t).getOrElse(
      sys.error(s"${family.name}: no state table $t"))

  private def bucketed: Boolean =
    family.tables.exists(_.layout.isInstanceOf[Bucketed])

  def dir(t: String): String = dirsRef.get()(t)
  private def allDirs: Seq[String] = tables.map(dir)
  def nBuckets: Int = nBucketsRef.get()

  /** The table's rows (partition column included), or an empty frame
    * with the same schema while the table has no data yet.
    */
  def read(t: String): DataFrame = {
    val s = spec(t)
    val schema = partCol(s).fold(s.schema)(s.schema.add(_, IntegerType))
    if (hasData(dir(t))) spark.read.schema(schema).parquet(dir(t))
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
  }

  /** Per-table parquet file counts — the compaction trigger's input
    * and the specs' witness that compaction shrank the state.
    */
  def fileCounts: Map[String, Int] =
    tables.map(t => t -> graft.Fs.listRec(dir(t), ".parquet").length)
      .toMap

  /** Per-batch appends accumulate small files; past the file-count
    * budget the state is rewritten in place (io5's compaction pattern
    * applied to state).
    */
  def maybeCompact(): Unit =
    if (fileCounts.values.max > compactAboveFiles) compact()

  /** STATE COMPACTION — io5's small-file rewrite applied to every
    * table holding data, each by its spec's rule, with the layout
    * work that keeps probes cheap folded into the rewrite it already
    * pays for:
    *
    *  - [[SortedRewrite]]: ~one file per partition, rows SORTED by the
    *    table's probe key within it — a pruned probe's `isin` data
    *    filter then skips parquet row groups by min/max stats instead
    *    of scanning the whole bucket. Bucketed tables RE-BUCKET here:
    *    the count is re-derived from the largest bucketed table's
    *    measured bytes ([[stateBucketsFor]]), so buckets stay
    *    ~constant-sized as the corpus grows;
    *  - [[Coalesce]]: a flat log rewrites to ⌈bytes/8 MB⌉ files;
    *  - [[SumCollapse]]: a flat log of additive rows collapses to its
    *    running total, one row in one file.
    *
    * Every rewrite lands in its next-generation dir and ONE commit
    * flips all of them with the new count riding the tag, so (tables,
    * count) change as a unit; results are identical by construction
    * (a pure rewrite). Every committed batch's rows are untagged
    * afterwards, so the marker files retire into the low-water int.
    */
  def compact(): Unit = {
    // defense-in-depth: the rewrite folds EVERY live file into
    // untagged state, so an uncommitted remnant that survived to here
    // must be dropped NOW or it would be laundered into consolidated
    // — unwipeable — state
    recoverUncommitted(root, allDirs)
    val nb =
      if (!bucketed) nBuckets
      else stateBucketsFor(
        family.tables.collect { case s if s.layout.isInstanceOf[Bucketed] =>
          stateDirBytes(dir(s.name)) }.max,
        targetBucketBytes, floor = defaultBuckets)
    rewrite(gen => if (bucketed) s"compact-$gen:nb=$nb" else s"compact-$gen")(
      family.tables.filter(s => hasData(dir(s.name)))
        .map(s => s.name -> compacted(s, nb)))
    nBucketsRef.set(nb)
    retireMarkers(root)
  }

  private def compacted(s: Spec, nb: Int): DataFrame = s.compaction match {
    case SortedRewrite => s.layout match {
      case Bucketed(keys, sort) =>
        read(s.name).drop("pb").withColumn("pb", st13Pb(nb)(keys.map(col): _*))
          .repartition(col("pb"))
          .sortWithinPartitions(("pb" +: sort).map(col): _*)
      // a list is the serving read unit, scanned whole: no sort key
      case _ => read(s.name).repartition(col(partCol(s).get))
    }
    case Coalesce =>
      read(s.name).coalesce(
        graft.sources.Io.compactionFileCount(dir(s.name), 8L << 20))
    case SumCollapse =>
      val cols = s.schema.fieldNames.toSeq
      read(s.name).agg(sum(cols.head).as(cols.head),
        cols.tail.map(c => sum(c).as(c)): _*).coalesce(1)
  }

  /** The ONE rewrite-commit path: land each `(table, rows)` in the
    * table's next-generation dir (`<table>.g<version>`), publish them
    * all with one commit tagged `tag(version)`
    * ([[commitStateRewrite]]), and flip this handle's dirs. A crash
    * before the commit leaves only unreferenced generation dirs the
    * next open sweeps. No-op when `frames` is empty.
    */
  def rewrite(tag: Long => String)(frames: Seq[(String, DataFrame)]): Unit =
    if (frames.nonEmpty) {
      val gen = stateLog(root).latestVersion.getOrElse(-1L) + 1L
      val outs = frames.map { case (t, rows) =>
        val out = s"$root/$t.g$gen"
        val w = rows.write.mode("overwrite")
        partCol(spec(t)).fold(w)(w.partitionBy(_)).parquet(out)
        t -> out
      }
      commitStateRewrite(root, tables, outs.map(_._2), tag(gen))
      dirsRef.set(dirsRef.get() ++ outs)
    }

  /** The ONE tagged batch append (the block above
    * [[Streams.batchCommitted]] has the protocol): `bid` < 0 takes the
    * root's next id; a committed bid is a no-op (the streaming-retry
    * fast path, `body` never runs); a bid whose attempt marker exists
    * first wipes that attempt's `gb<bid>-` remnants. `body` computes
    * the batch and returns its `(table, rows)` appends plus the caches
    * they read. The appends run as concurrent labelled jobs through
    * [[graft.Concurrent.settleAll]] (each lands its rows in the
    * table's layout — pb-bucketed, list-partitioned, or one flat
    * file), so a retry's wipe never races a sibling still landing
    * files; the caches drop once the appends settle; the commit
    * marker lands only after every append; then the file-count
    * trigger runs.
    */
  def appendBatch(bid: Long)(
      body: => (Seq[(String, DataFrame)], Seq[DataFrame])): Unit = {
    val b = if (bid >= 0L) bid else nextBatchId(root)
    if (batchCommitted(root, b)) return
    // the wipe's recursive state walk runs only when an attempt
    // marker proves a prior try of THIS bid may have left remnants —
    // the clean-batch hot path stays O(1) in state file count
    if (attemptExists(root, b)) wipeBatch(allDirs, b)
    markAttempt(root, b)
    val (appends, caches) = body
    try graft.Concurrent.settleAll(spark)(appends.map { case (t, rows) =>
      s"${family.name}: append $t" -> (() => land(t, rows, b)) })
    finally caches.foreach(graft.Caches.drop)
    commitBatch(root, b)
    maybeCompact()
  }

  /** One table's tagged append in its layout: bucketed rows
    * repartition by `pb` so a batch lands ≤ one file per touched
    * bucket (not one per shuffle task × bucket), list rows by `cid`,
    * and a flat log's batch lands as ONE file (read only whole).
    */
  private def land(t: String, rows: DataFrame, bid: Long): Unit = {
    val s = spec(t)
    val cols = s.schema.fieldNames.toSeq.map(col)
    val out = s.layout match {
      case Bucketed(keys, _) =>
        rows.select(cols: _*)
          .withColumn("pb", st13Pb(nBuckets)(keys.map(col): _*))
          .repartition(col("pb"))
      case ByList => rows.select(cols :+ col("cid"): _*).repartition(col("cid"))
      case Flat   => rows.select(cols: _*).coalesce(1)
    }
    appendTagged(out, dir(t), bid, partCol(s))
  }
}

private[graft] object StateTable {
  sealed trait Layout
  /** Hash-bucketed into the `pb` partition column on the probe
    * `keys` (the bounded [0, nBuckets) domain [[Streams.st13Pb]]
    * computes); compacted buckets sort by `sort`.
    */
  final case class Bucketed(keys: Seq[String], sort: Seq[String])
    extends Layout
  /** Partitioned by the coarse IVF list id `cid` the rows carry — a
    * list IS a partition.
    */
  case object ByList extends Layout
  /** Unpartitioned: a log only ever read whole. */
  case object Flat extends Layout

  sealed trait Compaction
  case object SortedRewrite extends Compaction
  case object Coalesce extends Compaction
  case object SumCollapse extends Compaction

  final case class Spec(name: String, schema: StructType, layout: Layout,
      compaction: Compaction)

  /** A family's tables; `name` prefixes scratch roots and job labels. */
  final case class Family(name: String, tables: Seq[Spec])

  private def partCol(s: Spec): Option[String] = s.layout match {
    case _: Bucketed => Some("pb")
    case ByList      => Some("cid")
    case Flat        => None
  }

  private[graft] def hasData(dir: String): Boolean =
    graft.Fs.listRec(dir, ".parquet").nonEmpty

  /** Open (or resume) a family's state. `root = None` → fresh JVM
    * scratch registered with [[graft.Staging]]'s shutdown cleanup;
    * `root = Some(path)` → durable state a deployment owns: an
    * existing root is RESUMED (its tables read as-is), an empty one
    * initialized lazily by the first appends.
    *
    * @param nBuckets the OPENING bucket count. Every append pays ~one
    *   parquet file creation per touched bucket, so the count is a
    *   dial between append cost and probe pruning granularity; each
    *   compaction re-derives it from measured state bytes against
    *   `targetBucketBytes`, so the corpus — not the caller — sizes the
    *   layout as it grows.
    * @param compactAboveFiles the per-table file budget. A batch
    *   appends ≤ nBuckets files per table, so it must sit WELL above
    *   nBuckets or the rewrite fires every batch and stops being
    *   amortized.
    * @param epoch the batch-id namespace owner (a streaming query's
    *   id): a durable root re-attached under a DIFFERENT epoch runs
    *   the barrier (see the epoch block above
    *   [[Streams.batchCommitted]]) so fresh-checkpoint ids restarting
    *   at 0 are never mistaken for committed history. None (the
    *   facade/scratch path) keeps the one shared namespace
    *   [[Streams.nextBatchId]] continues.
    */
  def open(spark: SparkSession, family: Family,
      root: Option[String] = None, nBuckets: Int = 16,
      compactAboveFiles: Int = 128,
      targetBucketBytes: Long = stateTargetBucketBytes,
      epoch: Option[String] = None): StateTable = {
    val st = new StateTable(spark,
      root.getOrElse(graft.Staging.scratch(family.name)), family,
      nBuckets, compactAboveFiles, targetBucketBytes)
    // crash recovery: sweep torn/superseded generations and wipe
    // batch remnants that never committed (from any previous process)
    sweepStateGenerations(st.root, st.tables, st.dirsRef.get())
    recoverUncommitted(st.root, st.allDirs)
    // the count a RESUMED root must compute the same pb with: the head
    // rewrite's tag, else (before any compaction ran) the opening meta
    if (st.bucketed)
      stateLogBuckets(st.root).orElse(loadStateBuckets(st.root)) match {
        case Some(n) => st.nBucketsRef.set(n)
        case None    => saveStateBuckets(st.root, st.nBuckets)
      }
    epochBarrier(st.root, epoch, () => st.compact())
    st
  }

  /** A read-side handle over an existing root: resolves the current
    * generations and nothing else — no sweep, no recovery, no meta
    * written (st18's mirror read, which must not disturb a follower).
    */
  def resolve(spark: SparkSession, root: String,
      family: Family): StateTable =
    new StateTable(spark, root, family, 16, Int.MaxValue,
      stateTargetBucketBytes)
}
