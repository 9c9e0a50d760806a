package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lake family's ONE metadata layer: a versioned commit log of
  * file lists with per-file stats — the minimal core of what Delta's
  * `_delta_log` / Iceberg's manifest tree provide, and what lets time
  * travel (io7), CDC (io8), MERGE snapshots (io4), manifest pruning
  * (io10) and write-time manifest sinks (st16) all serve from the
  * SAME structure instead of five ad-hoc directory layouts.
  *
  * Layout: `root/_log/v<NNNNNNNNNNNN>.commit`, one text file per
  * version, each a list of `add`/`remove` actions over data files
  * that live wherever the writer put them (typically under `root`).
  * A snapshot at version v is the replay of actions 0..v — the file
  * list plus per-file (min_key, max_key, n_rows) stats on the
  * table's clustering key.
  *
  * COMMIT ATOMICITY (the st13-style pointer flip, applied to tables):
  * a commit is claimed with [[graft.Fs.putIfAbsent]], which publishes
  * a fully staged file and FAILS if the version already exists —
  * readers see a version entirely or not at all (no torn commits),
  * and two racing writers cannot both claim a version (the loser
  * retries on a fresh one: optimistic concurrency, Delta's protocol).
  *
  * RELOCATABLE: an entry under `root` is recorded relative to it, so a
  * copied or moved root reads, time-travels and vacuums its own files,
  * never the original's. Absolute entries (logs written before this,
  * or files outside the root) resolve as recorded.
  *
  * SCALE SHAPE: the log is metadata — O(files touched per commit),
  * millions of times smaller than the data. A reader's planning cost
  * is one log-directory listing plus the replay of commit files
  * (bounded by commit count; production checkpoints the replay every
  * N commits — the same collapse st14 applies to its stats log).
  * Data files are immutable once added; a rewrite is remove+add in
  * ONE commit, so old snapshots keep serving from the files they
  * reference (copy-on-write time travel for free).
  *
  * Stats are keyed to a SINGLE clustering column (long-typed) — the
  * min/max a range query prunes on. Wider stats (per-column, nulls)
  * are a schema extension of the same line format, not a new design.
  */
object TableLog {

  /** One data file under the log: path + clustering-key stats. */
  case class FileEntry(path: String, minKey: Long, maxKey: Long,
      nRows: Long)

  sealed trait Action
  final case class Add(f: FileEntry) extends Action
  final case class Remove(path: String) extends Action

  def open(root: String): TableLog = new TableLog(root)

  /** Per-file (min, max, rows) stats for every parquet file under
    * `dir` — the write-side half of a commit. One metadata-shaped
    * aggregate over `_metadata.file_path` (io10's pattern); the
    * collect is bounded by the FILE count, a planner's working set
    * by definition. Paths are spelled under `dir` as the caller spelled
    * it (Spark reports each file as a URI).
    */
  def statsFor(spark: SparkSession, dir: String, keyCol: String,
      schema: StructType): Seq[FileEntry] =
    spark.read.schema(schema).parquet(dir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(keyCol).as("mn"), max(keyCol).as("mx"),
        count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val p = r.getString(0)
        FileEntry(below(dir, p).fold(p)(rel => s"${dir.stripSuffix("/")}/$rel"),
          r.getLong(1), r.getLong(2), r.getLong(3))
      }
      .toSeq.sortBy(_.path)

  /** Commit every parquet file under `dir` to `log` as one tagged
    * version — the land-then-commit shape every sink shares (io15's
    * destinations, st19's per-batch sides). A MISSING dir commits an
    * EMPTY tagged version: destination version counts stay in sync
    * even when a batch routes nothing to one side, and the tag still
    * answers redelivery checks.
    */
  def commitDir(spark: SparkSession, log: TableLog, dir: String,
      keyCol: String, schema: StructType, tag: String): Long = {
    val adds =
      if (graft.Fs.stat(dir).exists(_.isDir))
        statsFor(spark, dir, keyCol, schema).map(Add)
      else Nil
    log.commit(adds, tag)
  }

  private val Scheme = "^[A-Za-z][A-Za-z0-9+.-]*:.*".r

  /** The path component of an absolute entry (a URI's decoded path, or
    * a plain absolute path); None for a relative entry.
    */
  private def absPath(p: String): Option[String] = p match {
    case Scheme() => Some(new java.net.URI(p).getPath)
    case _ if p.startsWith("/") => Some(p)
    case _ => None
  }

  /** `p` relative to `dir` when it lies below it, comparing path
    * components, so a URI and a plain path of one file agree.
    */
  private def below(dir: String, p: String): Option[String] = {
    val d = dir.stripSuffix("/")
    val dp = absPath(d).getOrElse(d)
    absPath(p).filter(_.startsWith(s"$dp/")).map(_.substring(dp.length + 1))
  }
}

final class TableLog(val root: String) {
  import TableLog._

  private val base = root.stripSuffix("/")

  /** An entry as recorded: relative to the root when under it. */
  private def recorded(p: String): String =
    if (absPath(p).isEmpty) p else below(base, p).getOrElse(p)

  /** An entry as served: relative entries resolved under the root. One
    * file has one served spelling whether it was recorded relative or
    * (by an older writer) absolute, so replays match them.
    */
  private def served(p: String): String = recorded(p) match {
    case r if absPath(r).isEmpty => s"$base/$r"
    case a => a
  }

  private val logDir = s"$base/_log"

  private def commitPath(v: Long): String = f"$logDir/v$v%012d.commit"

  /** Version numbers of the `v<NNN>.<suffix>` files in the log dir,
    * ascending — the one listing both [[versions]] and the
    * checkpoint index share. Only complete files count — a crashed
    * writer's `.tmp` is invisible.
    */
  private def numberedFiles(suffix: String): Seq[Long] =
    graft.Fs.list(logDir).map(_.name).collect {
      case n if n.startsWith("v") && n.endsWith(suffix) =>
        n.stripPrefix("v").stripSuffix(suffix).toLong
    }.sorted

  /** The txn-shaped tag class ([[tagVersion]]'s watermark): a
    * writer/app name and its monotone batch number — Delta's
    * SetTransaction (appId, version) pair spelled as one tag.
    */
  private val TxnTag = "^([A-Za-z0-9_.-]+)@([0-9]+)$".r

  /** All committed versions, ascending. */
  def versions: Seq[Long] = numberedFiles(".commit")

  def latestVersion: Option[Long] = versions.lastOption

  /** Whether `v` is still the latest version: two stats, however many
    * commits the log holds (every writer claims latest + 1, so the
    * versions are contiguous).
    */
  def isHead(v: Long): Boolean =
    graft.Fs.stat(commitPath(v)).isDefined &&
      graft.Fs.stat(commitPath(v + 1L)).isEmpty

  /** Append one commit (the next version, or `atVersion` when the
    * writer computed its target up front — the optimistic-concurrency
    * shape: read latest, prepare, claim; a LOSING claim throws
    * Hadoop's `FileAlreadyExistsException` and the writer re-reads and
    * retries, exactly Delta's protocol). `tag` is the writer's
    * idempotence key — a streaming sink tags its batch id and checks
    * [[tagVersion]] before re-landing a redelivered batch. Returns
    * the committed version.
    */
  def commit(actions: Seq[Action], tag: String = "",
      atVersion: Option[Long] = None,
      schema: Option[StructType] = None): Long = {
    val v = atVersion.getOrElse(latestVersion.fold(0L)(_ + 1L))
    // the table SCHEMA rides the commit metadata (Delta's metaData
    // action): a schema-carrying commit DECLARES the table's logical
    // schema from this version on — an ALTER-style evolution is a
    // metadata-only commit (no actions, new schema), and readers
    // serve [[schemaAt]]'s answer with old files null-filling the
    // columns they predate. Compact JSON: single line, no tabs.
    val body = (Seq(s"tag:$tag") ++
      schema.map(s => s"schema:${s.json}") ++ actions.map {
      case Add(f) => addLine(f)
      case Remove(p) => s"remove\t${recorded(p)}"
    }).mkString("\n")
    // exclusive claim: if the target exists a concurrent writer won
    // this version; never overwrite history
    if (!graft.Fs.putIfAbsent(commitPath(v), body))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        commitPath(v))
    v
  }

  private def addLine(f: FileEntry): String =
    s"add\t${recorded(f.path)}\t${f.minKey}\t${f.maxKey}\t${f.nRows}"

  /** The full optimistic-concurrency protocol on top of [[commit]]
    * (Delta's commit loop): `prepare` computes this writer's actions
    * against the CURRENT latest version (−1 on an empty log), the
    * writer claims latest+1, and a lost claim triggers CONFLICT
    * CHECKING against the intervening winners before re-preparing:
    * a winner that removed a file this writer also removes is a true
    * conflict (two rewrites of the same file — blind retry would
    * double-apply or resurrect it) and aborts with
    * `ConcurrentModificationException`; disjoint commits (the common
    * case — appends never remove, compactions touch disjoint files)
    * rebase and retry. Returns the committed version.
    *
    * Scale: retries cost one log listing + the conflict scan of the
    * commits that beat us (each O(its actions)) — metadata-bounded,
    * no data touched; exactly the concurrency cost profile of a
    * production table format under writer contention.
    */
  def commitWithRetry(tag: String = "", maxRetries: Int = 10)(
      prepare: Long => Seq[Action]): Long = {
    var attempt = 0
    while (true) {
      val base = latestVersion.getOrElse(-1L)
      val actions = prepare(base)
      try return commit(actions, tag, atVersion = Some(base + 1L))
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        attempt += 1
        val mineRemoved = actions.collect { case Remove(p) => served(p) }.toSet
        val theirsRemoved = versions.filter(_ > base)
          .flatMap(v => parse(v)._2).collect { case Remove(p) => p }.toSet
        if (mineRemoved.exists(theirsRemoved))
          throw new java.util.ConcurrentModificationException(
            "conflicting rewrite: a concurrent commit removed the same file")
        if (attempt > maxRetries)
          throw new java.util.ConcurrentModificationException(
            s"lost the version claim $attempt times")
      }
    }
    -1L // unreachable
  }

  private def checkpointPath(v: Long): String =
    f"$logDir/v$v%012d.checkpoint"

  /** Collapse the replay: persist the CURRENT snapshot's full file
    * list beside its commit — plus the TAG INDEX of every commit at
    * or below it, so [[tagVersion]]'s answers survive the collapse —
    * and later readers start there instead of replaying from v0 (the
    * production bound on planning cost as commit history grows —
    * st14's stats-log collapse applied to the log itself). Commits
    * stay in place: time travel BELOW the checkpoint still replays
    * from v0. Idempotent — an existing checkpoint for the version is
    * kept; the claim is [[graft.Fs.putIfAbsent]] (commit()'s
    * contract).
    */
  def checkpoint(): Unit = latestVersion.foreach { v =>
    if (graft.Fs.stat(checkpointPath(v)).isEmpty) {
      // the tag index carries FORWARD from the previous checkpoint —
      // only the commits since it are parsed, so a checkpoint stays
      // O(delta) like the snapshot replay it collapses (re-parsing
      // the full history here would put O(history) back into the
      // maintenance cadence the checkpoint exists to remove)
      val prev = checkpoints.filter(_ < v).lastOption
      val (carried, carriedTxns) = prev.map(checkpointIndexes)
        .getOrElse((Map.empty[String, Long],
          Map.empty[String, (Long, Long)]))
      val fresh = versions
        .filter(cv => cv <= v && prev.forall(cv > _))
        .flatMap { cv =>
          val t = parse(cv)._1
          if (t.nonEmpty) Some(t -> cv) else None
        }
      // txn-shaped tags (app@n) FOLD into one watermark row per app —
      // Delta's SetTransaction: the index stays O(apps), not O(every
      // batch ever committed (st22 lands four tags per batch));
      // everything else keeps the exact line-per-tag index
      val (txnFresh, plainFresh) = fresh.partition {
        // a batch number wider than a Long stays on the exact-index
        // side (shape alone is not enough — the fold needs the value)
        case (t, _) => t match {
          case TxnTag(_, n) => n.toLongOption.isDefined
          case _ => false
        }
      }
      val txns = txnFresh.foldLeft(carriedTxns) { case (acc, (t, cv)) =>
        val TxnTag(app, nStr) = t
        val n = nStr.toLong
        acc.get(app) match {
          case Some((nMax, _)) if nMax >= n => acc
          case _ => acc + (app -> (n, cv))
        }
      }
      val txnLines = txns.toSeq.sortBy(_._1)
        .map { case (app, (n, cv)) => s"txn\t$cv\t$app\t$n" }
      val tagLines = txnLines ++
        (carried ++ plainFresh).toSeq.sortBy(_._2)
          .map { case (t, cv) => s"tag\t$cv\t$t" }
      // the schema in effect at the checkpoint carries too (like the
      // tag index): schemaAt's scan stops at the checkpoint floor, so
      // a collapsed schema-carrying commit must not make the table's
      // schema unreadable
      val schemaLine = schemaAt(v).map(s => s"schema:${s.json}").toSeq
      val body = (schemaLine ++ tagLines ++ snapshot(v).map(addLine))
        .mkString("\n")
      // a losing claim means a concurrent checkpointer published the
      // (identical-content) file for this version — drop ours
      graft.Fs.putIfAbsent(checkpointPath(v), body)
      ()
    }
  }

  private def readLines(path: String): Array[String] =
    graft.Fs.read(path).getOrElse(
      throw new java.io.FileNotFoundException(path)).split("\n")

  /** Checkpointed versions, ascending. */
  private def checkpoints: Seq[Long] = numberedFiles(".checkpoint")

  private def readCheckpoint(v: Long): Seq[FileEntry] =
    readLines(checkpointPath(v)).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("schema:")).flatMap { l =>
        l.split("\t") match {
          case Array("add", p, mn, mx, n) =>
            Some(FileEntry(served(p), mn.toLong, mx.toLong, n.toLong))
          case Array("tag", _, _) => None // the tag index, not a file
          case Array("txn", _, _, _) => None // the txn watermark
          case other =>
            sys.error(s"corrupt checkpoint v$v line: ${other.toSeq}")
        }
      }

  /** Both tag indexes a checkpoint carries, in ONE file read: the
    * plain-tag map (tag → version) and the txn watermarks (app →
    * (highest batch number, its commit version) —
    * [[tagVersion]]'s SetTransaction contract).
    */
  private def checkpointIndexes(
      v: Long): (Map[String, Long], Map[String, (Long, Long)]) = {
    val tags = Map.newBuilder[String, Long]
    val txns = Map.newBuilder[String, (Long, Long)]
    readLines(checkpointPath(v)).foreach { l =>
        l.split("\t") match {
          case Array("tag", cv, t) => tags += (t -> cv.toLong)
          case Array("txn", cv, app, n) =>
            txns += (app -> (n.toLong, cv.toLong))
          case _ => ()
        }
      }
    (tags.result(), txns.result())
  }

  private def checkpointTags(v: Long): Map[String, Long] =
    checkpointIndexes(v)._1

  private def checkpointTxns(v: Long): Map[String, (Long, Long)] =
    checkpointIndexes(v)._2

  private def parse(v: Long): (String, Seq[Action]) = {
    val lines = readLines(commitPath(v)).toSeq
    val tag = lines.head.stripPrefix("tag:")
    val actions = lines.tail
      .filter(l => l.nonEmpty && !l.startsWith("schema:")).map { l =>
      l.split("\t") match {
        case Array("add", p, mn, mx, n) =>
          Add(FileEntry(served(p), mn.toLong, mx.toLong, n.toLong))
        case Array("remove", p) => Remove(served(p))
        case other => sys.error(s"corrupt commit v$v line: ${other.toSeq}")
      }
    }
    (tag, actions)
  }

  /** The schema line of a commit/checkpoint file, if any. */
  private def schemaLineOf(p: String): Option[StructType] =
    readLines(p).find(_.startsWith("schema:"))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("schema:")).asInstanceOf[StructType])

  private def commitSchema(v: Long): Option[StructType] =
    schemaLineOf(commitPath(v))

  private def checkpointSchema(v: Long): Option[StructType] =
    schemaLineOf(checkpointPath(v))

  /** The table's logical schema AS OF version `v`: the newest
    * schema-carrying commit at or below it — the read side of schema
    * evolution (old snapshots serve the schema of THEIR era; a reader
    * at the head null-fills legacy files to the evolved schema). Scans
    * newest-first down to the latest checkpoint ≤ v, then falls back
    * to the schema THAT checkpoint carries — so planning cost is
    * O(commits since the checkpoint), not O(history), exactly
    * [[tagVersion]]'s bound. Time travel below the checkpoint replays
    * the (never-deleted) commits themselves.
    */
  def schemaAt(v: Long): Option[StructType] = {
    val floor = checkpoints.filter(_ <= v).lastOption
    versions.filter(cv => cv <= v && floor.forall(cv >= _)).sortBy(-_)
      .iterator.flatMap(commitSchema).nextOption()
      .orElse(floor.flatMap(checkpointSchema))
  }

  /** The version a writer committed under `tag`, if any — the
    * redelivery check for tagged (streaming) commits. Scans commits
    * NEWEST FIRST down to the latest checkpoint, then consults the
    * indexes the checkpoint carries for everything below it — so
    * the per-batch cost is O(commits since the last checkpoint + one
    * checkpoint read), not O(history), and a tag is NEVER read as
    * absent just because its commit was collapsed (a re-land of an
    * overwrite-keyed batch would otherwise delete the files its own
    * earlier commit references).
    *
    * TXN-SHAPED tags (`<app>@<n>`, n a non-negative integer — the
    * per-batch streaming-sink shape) are WATERMARKED below the
    * checkpoint, Delta's SetTransaction: the checkpoint keeps ONE
    * (app, nMax, version-of-nMax) row per app instead of a line per
    * batch ever committed, so checkpoint size is O(apps + plain
    * tags), not O(batch history). Contract: below the checkpoint,
    * [[committed]] answers presence for every `n ≤ nMax` (valid
    * because a serialized sink only ever re-asks about its NEWEST
    * batch; Spark's foreachBatch never redelivers batch n-2 after n
    * committed), while THIS method returns a version ONLY where one
    * is exact — n = nMax under the watermark (older folded batches
    * answer None here, never the watermark's version: an as-of-
    * before read `tagVersion(tag).map(_ - 1)` against a non-newest
    * batch would silently target the wrong snapshot, so inexactness
    * is now unrepresentable rather than merely documented).
    * Redelivery GUARDS must ask [[committed]], not this. Non-txn
    * tags keep the exact line-per-tag index in both.
    */
  def tagVersion(tag: String): Option[Long] = tagHit(tag, exactOnly = true)

  /** Whether ANY version committed under `tag` — the redelivery
    * guard's question. Txn-shaped tags answer presence for every
    * batch at or below the checkpoint watermark (no version implied;
    * [[tagVersion]] carries the exactness contract).
    */
  def committed(tag: String): Boolean =
    tagHit(tag, exactOnly = false).isDefined

  private def tagHit(tag: String, exactOnly: Boolean): Option[Long] = {
    val floor = checkpoints.lastOption
    versions.filter(v => floor.forall(v >= _)).sortBy(-_)
      .find(v => parse(v)._1 == tag)
      .orElse(floor.flatMap { cv =>
        // ONE checkpoint read serves both indexes (the fresh-batch
        // miss path runs once per batch per destination log)
        val (tags, txns) = checkpointIndexes(cv)
        tags.get(tag).orElse(tag match {
          case TxnTag(app, n) =>
            // toLongOption: a pathological batch number wider than a
            // Long can't match any folded watermark — absent, not a
            // parse crash (the same tag also failed the exact scan)
            n.toLongOption.flatMap(nv =>
              txns.get(app)
                .filter { case (nMax, _) =>
                  if (exactOnly) nv == nMax else nv <= nMax }
                .map(_._2))
          case _ => None
        })
      })
  }

  /** Commit `v`'s own actions — the exact file DELTA that version
    * introduced (the CDC follower's planning input: added = its Add
    * paths, removed = its Remove paths; no snapshot replay needed).
    */
  def actions(v: Long): Seq[Action] = parse(v)._2

  /** Commit `v`'s tag — the writer's idempotence/metadata key (the
    * maintained-state rewrite protocol rides its bucket count here).
    */
  def tagOf(v: Long): String = parse(v)._1

  /** Snapshot at version `v`: start from the greatest checkpoint at
    * or below `v` (if any — the replay-collapse bound), then replay
    * adds/removes of the remaining commits up to v. Paths are unique
    * per add (immutable files), so the replay is a map build —
    * O(actions since the checkpoint), driver-side metadata.
    */
  def snapshot(v: Long): Seq[FileEntry] = {
    val live = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    val base = checkpoints.filter(_ <= v).lastOption
    base.foreach(cv => readCheckpoint(cv).foreach(f => live(f.path) = f))
    versions.filter(cv => cv <= v && base.forall(cv > _)).foreach { cv =>
      parse(cv)._2.foreach {
        case Add(f)    => live(f.path) = f
        case Remove(p) => live.remove(p)
      }
    }
    live.values.toSeq
  }

  /** Read the table AS OF version `v` — time travel is just "plan
    * from an old snapshot's file list". An empty snapshot reads as
    * an empty relation, not a zero-path error.
    */
  def read(spark: SparkSession, schema: StructType, v: Long): DataFrame = {
    val files = snapshot(v).map(_.path)
    if (files.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  /** Manifest pruning: the files of snapshot `v` whose [min, max]
    * intersects [lo, hi] — a pure metadata computation, no parquet
    * footer is opened for a skipped file.
    */
  def prunedFiles(v: Long, lo: Long, hi: Long): Seq[FileEntry] =
    snapshot(v).filter(f => f.maxKey >= lo && f.minKey <= hi)

  /** Every path any commit ever Add'd, as served — the reference
    * universe vacuum deletes within. A data file on disk that is NOT
    * in this set belongs to no version (a torn writer's leftover) and
    * is the caller's to reclaim (sinkMaintain's stale-dir sweep).
    */
  private[graft] def addedPaths: Set[String] =
    versions.flatMap(v => parse(v)._2).collect {
      case Add(f) => f.path
    }.toSet

  /** VACUUM: physically delete data files no RETAINED snapshot
    * references (Delta's VACUUM): the last `retain` versions keep
    * serving; older versions' exclusive files are removed from disk,
    * shrinking the time-travel horizon to the retained window. The
    * commit history itself stays (tiny metadata; a pre-horizon
    * snapshot() still replays its FILE LIST — only the bytes are
    * gone). Idempotent and crash-safe: deletion of an already-deleted
    * file is a no-op, so an interrupted vacuum simply re-runs.
    * Returns the deleted paths.
    *
    * Scale: pure metadata planning (one replay per retained version
    * + one pass over all Add actions) followed by O(deleted) deletes —
    * never a data scan.
    */
  def vacuum(retain: Int = 1): Seq[String] = {
    require(retain >= 1, s"retain=$retain must keep at least one version")
    val vs = versions
    if (vs.isEmpty) return Nil
    val kept = vs.takeRight(retain)
    val referenced = kept.flatMap(snapshot).map(_.path).toSet
    val everAdded = vs.flatMap(v => parse(v)._2).collect {
      case Add(f) => f.path
    }.distinct
    val doomed = everAdded.filterNot(referenced)
    // report only what THIS run removed (deleting an absent file is
    // the idempotence: a re-run after a crash finds nothing left)
    doomed.filter(graft.Fs.deleteTree)
  }

  /** The pruned scan: only stats-admitted files are opened. */
  def prunedRead(spark: SparkSession, schema: StructType, v: Long,
      lo: Long, hi: Long): DataFrame = {
    val files = prunedFiles(v, lo, hi).map(_.path)
    if (files.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(files: _*)
  }

  // ---- CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT` shape) ----

  private def constraintPath: String = s"$logDir/constraint.meta"

  /** Declare the table's CHECK constraint — a SQL boolean expression
    * every committed batch must satisfy ROW-WISE (evaluating to TRUE;
    * FALSE or NULL is a violation — the strict form, so a constraint
    * on a nullable column implies its NOT NULL). One constraint per
    * table (compose with AND); persisted in the log dir as catalog
    * metadata, atomic like a commit.
    */
  def setConstraint(exprSql: String): Unit =
    graft.Fs.writeAtomic(constraintPath, exprSql)

  /** The declared CHECK constraint, if any. */
  def constraint: Option[String] = graft.Fs.read(constraintPath).map(_.trim)

  /** Enforce the table's constraint against a batch about to commit:
    * returns the VIOLATION count (0 = admissible). One scan of the
    * BATCH — arrivals-sized, never table-sized; the check runs
    * before any file is landed, so a rejected batch leaves no
    * orphans at all.
    */
  def violations(df: DataFrame): Long = constraint match {
    case None => 0L
    case Some(c) =>
      df.filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(c),
        org.apache.spark.sql.functions.lit(false))).count()
  }
}
