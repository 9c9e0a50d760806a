package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType
import java.util.concurrent.atomic.AtomicInteger

/** Event with µs timestamp, the streaming-side row shape. */
case class Ev(user_id: Long, ts_us: Long, event_id: Long)
/** Open-session state per user. */
case class SessState(start_us: Long, last_us: Long, n: Int)
/** A closed session (emitted only once proven closed by a later event). */
case class Sess(user_id: Long, session_start_us: Long, n_events: Int)
/** A doc's minhash signature landing in one LSH band bucket. */
case class BandDoc(band_key: String, doc_id: Long, mhs: Seq[Long])
/** An emitted near-duplicate (doc_a arrived before doc_b). */
case class DupPair(doc_a: Long, doc_b: Long, est_j: Double)
/** A vector's arrival in one hyperplane band: its exact packed bucket
  * key plus its packed 512-bit sketch as BINARY (64 bytes — byte[]
  * is the encoder fast path, and the sketch rides on every n·L
  * arrival row: an array-of-long field cost ~50 µs/row in encoder
  * conversion through the stateful exchange). */
case class VecBand(bk: Long, vec_id: Long, sketch: Array[Byte])
/** An emitted embedding near-dup candidate (vec_a arrived first):
  * sketch Hamming distance ≤ the angle-derived cut. */
case class DupVec(vec_a: Long, vec_b: Long, ham: Int)
/** A line occurrence arriving for incremental line dedup (st8). */
case class LineArr(doc_id: Long, line_no: Int, line: String)
/** A line occurrence with its first-owner verdict (st8 emission). */
case class LineKept(doc_id: Long, line_no: Int, line: String, kept: Int)
/** A doc arriving for incremental packing (st7). */
case class PackDoc(source: String, doc_id: Long, n_tok: Long)
/** A doc's assigned pack span (st7 emission). */
case class PackedDoc(source: String, doc_id: Long, n_tok: Long,
    tok_start: Long, pack_first: Long, pack_last: Long)

/** Structured Streaming operators, run-to-completion over the events
  * parquet as a file-source stream (the same code binds to Kafka/etc.
  * by swapping `readStream.parquet` for another source).
  *
  * Both return the sink table as a batch DataFrame after
  * `processAllAvailable()`, fitting the driver's (spark, dir) → DF
  * contract. Memory sink is test plumbing; a cluster deployment
  * writes a Delta/parquet sink with checkpointing.
  */
object Streams {

  private val ctr = new AtomicInteger(0)

  /** Streaming read of events.parquet with the same ts normalization
    * as `Tables.events` (schema-adaptive — see `Tables.normalizeTs`),
    * delivered as TWO time-ordered micro-batches
    * (`maxFilesPerTrigger=1` over a time-split staging of the source
    * file) so stateful operators genuinely carry state across
    * batches. A production deployment streams a real landing
    * directory and none of the staging exists.
    */
  private def eventStream(t: Tables): DataFrame = {
    val spark = t.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"${t.dir}/events.parquet"
    val schema = spark.read.parquet(path).schema
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir(t, path)))
  }

  /** The file stream source requires a DIRECTORY of files; the test
    * table is a single read-only file. Stage: split at the median of
    * `splitCol` (event time for events, doc id for documents) into
    * two parquet files written in arrival order (file source picks
    * them up oldest-modified first). The staged dir serves every later
    * stream over the file, so it lives until `Staging`'s shutdown
    * cleanup; each half's write dir goes once its file has landed.
    */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedDir(t: Tables, file: String,
      splitCol: String = "ts"): String =
    // keyed by (file, splitCol): a second call site staging the same
    // file on a different column must never silently reuse the other
    // column's split
    staged.computeIfAbsent(s"$file#$splitCol", { _ =>
      graft.Registries.bump()
      val f = file
      val spark = t.spark
      val dir = graft.Staging.scratch("stream")
      val all = spark.read.parquet(f)
      // approxQuantile only takes numeric columns; split timestamps
      // on their epoch-µs image (order-isomorphic, so the halves are
      // the same rows either way)
      val splitKey = all.schema(splitCol).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col(splitCol).cast(
            org.apache.spark.sql.types.TimestampType))
        case _ => col(splitCol)
      }
      val keyed = all.withColumn("__graft_split", splitKey)
      val Array(mid) =
        keyed.stat.approxQuantile("__graft_split", Array(0.5), 0.0)
      val halves = Seq(col("__graft_split") <= mid, col("__graft_split") > mid)
      halves.zipWithIndex.foreach { case (cond, i) =>
        // write outside the stream dir (subdirs there would be taken
        // for partition columns), move the data file in, and pin
        // modification times so the source replays batch 0 first
        val out = graft.Fs.tempDir("stage_out")
        try {
          keyed.filter(cond).drop("__graft_split").coalesce(1)
            .write.mode("overwrite").parquet(out)
          landPart(out, s"$dir/${i}_events.parquet", 2 - i)
        } finally { graft.Fs.deleteTree(out); () }
      }
      dir
    })

  /** Move the data file a `coalesce(1)` write left in `out` to `dest`,
    * its mtime `ageMin` minutes before now: a file source replays the
    * oldest file first, so the landing order is the replay order.
    */
  private def landPart(out: String, dest: String, ageMin: Int): Unit =
    graft.Fs.list(out).find(_.name.endsWith(".parquet")).foreach { part =>
      graft.Fs.move(part.path, dest)
      new java.io.File(dest)
        .setLastModified(System.currentTimeMillis() - 60000L * ageMin)
      ()
    }

  /** st1: tumbling 1-hour window aggregate (count + decimal-exact
    * value sum) per event_type, complete mode — the streaming twin of
    * a batch `date_trunc` rollup, so it is DuckDB-oracle-checkable.
    */
  def st1StreamWindowed(t: Tables): DataFrame = {
    val name = s"st1_sink_${ctr.incrementAndGet()}"
    val q = eventStream(t)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    t.spark.table(name).orderBy("window_start", "event_type")
  }

  /** st2: stateful session assembly via flatMapGroupsWithState
    * (*rows-only*; the batch twin q9 carries the oracle). A session
    * closes — and is emitted — only when a later event proves a
    * >30-minute gap; each user's final session stays open in state,
    * as a real endless stream would leave it.
    */
  def st2StreamSessionize(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val name = s"st2_sink_${ctr.incrementAndGet()}"
    val events = eventStream(t)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[Ev]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          // micro-batch delivery order is not time order; sort within batch
          val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[Sess]
          var st = state.getOption
          evs.foreach { e =>
            st match {
              case Some(s) if e.ts_us - s.last_us > 1800000000L =>
                out += Sess(user, s.start_us, s.n)
                st = Some(SessState(e.ts_us, e.ts_us, 1))
              case Some(s) =>
                st = Some(s.copy(last_us = e.ts_us, n = s.n + 1))
              case None =>
                st = Some(SessState(e.ts_us, e.ts_us, 1))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
    val q = sessions.toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
      .select(col("user_id"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** st3: watermarked APPEND-mode windowed aggregation (*rows-only*;
    * the emitted subset is spec'd against the batch rollup). A window
    * is emitted exactly once, when the 30-minute watermark passes its
    * end — which here happens for batch-0-era windows during batch 1's
    * commit; the stream-tail windows stay open, as they would on an
    * endless stream. This is the finalize-once shape a production
    * sink (parquet/Delta) requires, vs st1's replace-everything
    * complete mode.
    */
  def st3StreamLateAppend(t: Tables): DataFrame = {
    val name = s"st3_sink_${ctr.incrementAndGet()}"
    val q = eventStream(t)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    t.spark.table(name).orderBy("window_start", "event_type")
  }

  /** st10: CHECKPOINTED PARQUET FILE SINK — st3's watermarked append
    * aggregation landed through Structured Streaming's production
    * sink: `format("parquet")` + `checkpointLocation`. The sink
    * commits each micro-batch atomically to the `_spark_metadata`
    * log, which the read side consults instead of the directory
    * listing — a torn/abandoned task's files are invisible, giving
    * exactly-once OUTPUT (the memory sinks st1–st9 use are test
    * plumbing; this is the path a cluster deployment actually
    * writes). Landed once per (JVM, corpus) and reread on later
    * calls, like a real lake table fed by a continuous job.
    *
    * Oracle-checkable: identical transformation and append semantics
    * to st3, so st3's oracle applies; the hash gate now ALSO covers
    * the file sink's write→read round trip.
    */
  def st10StreamFileSink(t: Tables): DataFrame = {
    // sink + checkpoint live under ONE Staging tree: memoized per
    // (JVM, corpus) like every staged lake path, and removed by
    // Staging's shutdown hook instead of leaking across runs
    val staged = graft.Staging.dir(s"${t.dir}:st10", "st10") { d =>
      val q = eventStream(t)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"))
        .writeStream.format("parquet")
        .option("path", s"$d/out").option("checkpointLocation", s"$d/ckpt")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    t.spark.read.parquet(s"$staged/out")
      .orderBy("window_start", "event_type")
  }

  /** st10's landed output dir, if this JVM ran it — spec access. */
  private[graft] def fileSinkDir(t: Tables): Option[String] =
    graft.Staging.lookup(s"${t.dir}:st10").map(d => s"$d/out")

  /** st6: stream-stream INTERVAL join — click-to-purchase attribution
    * within 30 minutes per user, both sides unbounded streams. The
    * canonical two-stream stateful join: each side is watermarked
    * (2 h), the join condition carries the event-time range, so Spark
    * buffers each side's rows ONLY until the other side's watermark
    * passes the range end — bounded state on endless streams, the
    * property a naive "join two tables" port has no analog for. Inner
    * join in append mode: a match is emitted exactly once, when both
    * rows have arrived (cross-micro-batch matches come from the
    * buffered state).
    *
    * Oracle-checkable: inner-join emission does not depend on
    * watermark timing (the watermark only bounds state), so the
    * run-to-completion result equals the batch interval self-join.
    */
  def st6StreamStreamJoin(t: Tables): DataFrame = {
    val name = s"st6_sink_${ctr.incrementAndGet()}"
    // ONE source, two filtered views (streaming self-join): the file
    // scan runs once per micro-batch instead of once per side
    val ev = eventStream(t)
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    // a two-sided stateful join materializes FOUR state stores per
    // shuffle partition per micro-batch; the store-instance overhead,
    // not data volume, dominates at local scale — run the join at 8
    // partitions (the conf is captured at query START; production
    // sizes this to throughput, not to the session's batch default)
    val q = withShufflePartitions(t.spark, 8) {
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    q.processAllAvailable(); q.stop()
    t.spark.table(name).orderBy("click_id", "purchase_id")
  }

  /** Run `f` (which must START any streaming query inside it — the
    * partition count is captured at start) under a temporary
    * `spark.sql.shuffle.partitions`, restoring the session value
    * after. Synchronized: the conf is session-global.
    */
  private def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(f: => T): T =
    synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** st4: INCREMENTAL near-duplicate detection — dedup against an
    * ever-growing corpus without recomparing history. Documents
    * stream in (two id-ordered micro-batches); each doc's 16-perm
    * minhash signature (same compiled expression as batch d3) is
    * exploded into its 4 LSH band buckets, and a
    * flatMapGroupsWithState registry KEYED BY BAND BUCKET holds every
    * signature that ever landed in that bucket. A newly arriving doc
    * is compared only against its own buckets' registry (the LSH
    * candidate set), emitting (earlier_doc, later_doc,
    * estimated-jaccard = matching-perm fraction) once the estimate
    * clears the threshold. State grows with bucket occupancy — the
    * corpus is never rescanned, exactly the production shape for
    * dedup-at-ingest at 100 TB (state store = RocksDB there).
    *
    * Oracle-checkable: the emitted pair set is order-independent
    * (every pair has exactly one earlier member), so the DuckDB twin
    * is the batch band join + signature-estimate filter.
    */
  def st4StreamDedup(t: Tables, threshold: Double = 0.5): DataFrame = {
    val spark = t.spark
    val name = s"st4_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
    val q = incrementalMinhashDedup(docs, "doc_id", "text", threshold).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // a pair colliding in several bands is emitted by each band's
    // group — collapse (identical rows) downstream of the sink
    spark.table(name).distinct().orderBy("doc_a", "doc_b")
  }

  /** st4's emissions through the PRODUCTION sink — parquet +
    * checkpoint, exactly-once via `_spark_metadata` (st10's pattern
    * applied to a STATEFUL dedup registry, so the checkpointed path
    * is exercised for flatMapGroupsWithState output too, not just
    * windowed aggregation). Landed once per (JVM, corpus, threshold)
    * under [[graft.Staging]] and reread on later calls; the spec
    * asserts the read-back equals st4's memory-sink result.
    */
  def st4FileSink(t: Tables, threshold: Double = 0.5): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val staged = graft.Staging.dir(s"${t.dir}:st4sink:$threshold",
        "st4sink") { d =>
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir(t, path, "doc_id"))
      val q = incrementalMinhashDedup(docs, "doc_id", "text", threshold)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$d/out").option("checkpointLocation", s"$d/ckpt")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      // the sink landed ~one file per micro-batch — compact past the
      // file budget at this quiescent boundary (stream stopped), the
      // long-running-sink posture io5 documents for batch tables
      compactFileSink(spark, s"$d/out")
    }
    spark.read.parquet(s"$staged/out").distinct().orderBy("doc_a", "doc_b")
  }

  /** io5's small-file rewrite applied to a STREAMING parquet sink's
    * output (a long-running sink lands ~one file per micro-batch —
    * a million 2 MB files is the scale-killer io5 documents, created
    * here by the trigger cadence instead of a partitioned append).
    * Past `aboveFiles` committed files the dir is read back (through
    * `_spark_metadata`, so only COMMITTED files move), rewritten to
    * ⌈bytes/target⌉ files (io5's own sizing) and swapped in.
    *
    * Correct only at a QUIESCENT boundary (stream stopped / between
    * restarts): the swap retires the sink's `_spark_metadata` log, so
    * the dir becomes a plain immutable table — the snapshot hand-off
    * a streaming lake pipeline does when it seals a sink; a restart
    * appends to a fresh sink dir, not this one. In-flight writers
    * would race the swap, which is why the trigger sits AFTER
    * `q.stop()` at every call site.
    */
  private[graft] def compactFileSink(
      spark: org.apache.spark.sql.SparkSession, outDir: String,
      targetBytes: Long = 8L << 20, aboveFiles: Int = 16): Unit = {
    if (graft.Fs.list(outDir).count(_.name.endsWith(".parquet")) <=
        aboveFiles) return
    val schema = spark.read.parquet(outDir).schema
    val tmp = s"$outDir.compacting"
    spark.read.parquet(outDir)
      .coalesce(graft.sources.Io.compactionFileCount(outDir, targetBytes))
      .write.mode("overwrite").parquet(tmp)
    // schema read-back guard: the swap must never land a frame that
    // lost columns (paranoia against a silent empty-dir read)
    require(spark.read.parquet(tmp).schema.fieldNames.sameElements(
      schema.fieldNames), s"compaction changed schema at $outDir")
    graft.Fs.deleteTree(outDir)
    graft.Fs.move(tmp, outDir)
  }

  /** Library core of st4: attach to ANY streaming (id, text) frame;
    * returns the append-mode Dataset of emitted near-dup pairs for
    * the caller to sink (parquet/Delta + checkpoint in production).
    */
  def incrementalMinhashDedup(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): org.apache.spark.sql.Dataset[DupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("tk", graft.functions.Text.tokenize(col(textCol)))
      .select(col(idCol).as("doc_id"),
        graft.functions.Text.shinglesFast(3)(col("tk")).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("mhs", graft.functions.Text.minhashSig(col("sh")))
      .select(col("doc_id"), col("mhs"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(
        concat_ws("-", col("band"),
          concat_ws(":", slice(col("mhs"), col("band") * 4 + 1, lit(4))))
          .as("band_key"),
        col("doc_id"), col("mhs"))
      .as[BandDoc]
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[BandDoc], state: GroupState[Seq[BandDoc]]) =>
          // batch delivery order is not id order; sort so the earlier
          // doc of a same-batch pair is always the registry side
          val arriving = it.toSeq.sortBy(_.doc_id)
          var registry = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[DupPair]
          arriving.foreach { d =>
            registry.foreach { old =>
              if (old.doc_id != d.doc_id) {
                val matching = old.mhs.zip(d.mhs).count(p => p._1 == p._2)
                val est = matching / 16.0
                if (est >= threshold) out += DupPair(old.doc_id, d.doc_id, est)
              }
            }
            registry = registry :+ d
          }
          state.update(registry)
          out.result().iterator
      }
  }

  /** Sketch bits and the integer Hamming cut for st5: 512-bit
    * signed-random-projection sketch; Hamming ≤ τ = ⌊512·acos(θ)/π⌋
    * accepts pairs whose estimated angle is within the threshold
    * (Charikar estimator). Integer compare — no float trig crosses
    * the engine boundary.
    */
  private val st5SketchBits = 512
  private[graft] def st5HamCut(threshold: Double): Int =
    math.floor(st5SketchBits * math.acos(threshold) / math.Pi).toInt

  /** st5: INCREMENTAL embedding near-dup detection — the d5 index as
    * a stream registry. Vectors stream in (two id-ordered
    * micro-batches); each computes its 256 packed band keys and its
    * 512-bit sketch (the same compiled expressions as batch d5/s2),
    * then visits its band buckets: the EXACT key registers the
    * vector's sketch in a flatMapGroupsWithState registry keyed by
    * bucket, and the Hamming-1 neighbor keys probe without
    * registering (multi-probe, arrival side only). An arriving vector
    * is compared — by sketch Hamming, ~100× cheaper than cosine —
    * only against its buckets' registries, emitting
    * (earlier, later, hamming ≤ τ) candidates. The corpus is never
    * rescanned; state per bucket holds 64-byte sketches, not raw
    * vectors.
    */
  def st5StreamEmbedDedup(t: Tables, threshold: Double = 0.45): DataFrame = {
    val spark = t.spark
    val name = s"st5_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/embeddings.parquet"
    val schema = spark.read.parquet(path).schema
    val vecs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "vec_id"))
    val q = incrementalEmbeddingDedup(vecs, "vec_id", "embedding", threshold)
      .toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // the same pair may surface via several buckets/probes — collapse
    spark.table(name).distinct().orderBy("vec_a", "vec_b")
  }

  /** Library core of st5: attach to ANY streaming (id, vector) frame;
    * returns the append-mode Dataset of sketch-Hamming near-dup
    * candidates for the caller to sink.
    *
    * State is keyed by BAND (bounded cardinality — lshBands groups),
    * not by bucket: each band's state holds a bucket→registrations
    * map, and an arriving vector probes its 17 Hamming-1 bucket keys
    * IN MEMORY inside the group. That removes both the ×17 probe-row
    * explosion from the shuffle and the millions-of-tiny-groups state
    * overhead the bucket-keyed formulation had (measured 92 s → ~5 s
    * at sf0.1). Candidates are identical: Ham(bandkey_a, bandkey_b)
    * ≤ 1 in some band.
    */
  def incrementalEmbeddingDedup(vecsIn: DataFrame, idCol: String,
      vecCol: String, threshold: Double): org.apache.spark.sql.Dataset[DupVec] = {
    val spark = vecsIn.sparkSession
    import spark.implicits._
    val cut = st5HamCut(threshold)
    val bandBits = graft.operators.Dedup.lshBandBits
    val vecs = vecsIn.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    vecs
      .select(col("vec_id"), graft.functions.Vectors.hyperplaneSketchKeys(
        col("v"), graft.operators.Dedup.hpMatrix, st5SketchBits,
        graft.operators.Dedup.lshBands, bandBits).as("sb"))
      .select(col("vec_id"), col("sb.sketch").as("sketch"),
        explode(col("sb.keys")).as("bk"))
      .select(col("bk"), col("vec_id"), col("sketch"))
      .as[VecBand]
      .groupByKey(_.bk >> bandBits) // band id — bounded group count
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[VecBand], state: GroupState[Array[Long]]) =>
          // state is a FLAT primitive long array (stride-10 entries:
          // bk, vec_id, 8 sketch words) — the primitive-array encoder
          // bulk-copies, where a Seq[case class] state paid per-entry
          // ExpressionEncoder conversion on every batch rewrite
          val words = st5SketchBits / 64
          val stride = words + 2
          def toWords(b: Array[Byte]): Array[Long] = {
            val bb = java.nio.ByteBuffer.wrap(b)
            Array.fill(words)(bb.getLong())
          }
          // id order so the earlier vector of a same-batch pair is
          // registered before the later one probes
          val arriving = it.toSeq.sortBy(_.vec_id)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          state.getOption.foreach(buf ++= _)
          val byBucket = scala.collection.mutable.HashMap.empty[Long, List[Int]]
          var o = 0
          while (o < buf.length) {
            byBucket.update(buf(o), o :: byBucket.getOrElse(buf(o), Nil))
            o += stride
          }
          val out = Seq.newBuilder[DupVec]
          arriving.foreach { v =>
            val sk = toWords(v.sketch)
            var j = -1 // -1 = exact key, 0..bandBits-1 = flipped bit
            while (j < bandBits) {
              val key = if (j < 0) v.bk else v.bk ^ (1L << j)
              byBucket.getOrElse(key, Nil).foreach { off =>
                val oldId = buf(off + 1)
                if (oldId != v.vec_id) {
                  var h = 0; var i = 0
                  while (i < words) {
                    h += java.lang.Long.bitCount(buf(off + 2 + i) ^ sk(i))
                    i += 1
                  }
                  if (h <= cut) out += DupVec(oldId, v.vec_id, h)
                }
              }
              j += 1
            }
            val off = buf.length
            buf += v.bk; buf += v.vec_id
            var i = 0
            while (i < words) { buf += sk(i); i += 1 }
            byBucket.update(v.bk, off :: byBucket.getOrElse(v.bk, Nil))
          }
          state.update(buf.toArray)
          out.result().iterator
      }
  }

  /** st7: INCREMENTAL SEQUENCE PACKING — t6's concat-and-chunk as a
    * dedup-at-ingest-style stream: documents arrive (two id-ordered
    * micro-batches), each source shard's running token total lives in
    * a per-source GroupState (ONE long — the smallest useful stream
    * state), and every doc is emitted exactly once with its pack
    * span. This is how a continuous pretraining-data pipeline assigns
    * pack offsets at landing time instead of re-packing the corpus
    * per snapshot; state is bounded by the shard count, not the data.
    *
    * Oracle-checkable: the micro-batches partition docs by id (median
    * split), and packing consumes each shard in id order, so
    * run-to-completion equals batch t6 — its oracle SQL applies
    * verbatim.
    */
  def st7StreamPack(t: Tables, budget: Int = 128): DataFrame = {
    val spark = t.spark
    val name = s"st7_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
    val q = incrementalSequencePack(docs, "doc_id", "source", "text", budget)
      .toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
      .select("source", "doc_id", "n_tok", "tok_start",
        "pack_first", "pack_last")
      .orderBy("source", "doc_id")
  }

  /** Library core of st7: attach to ANY streaming (id, source, text)
    * frame; emits each doc's pack span once, carrying one cumulative
    * token count per source shard in state. Docs are packed in id
    * order WITHIN each micro-batch; across batches the assignment is
    * arrival-ordered, which is the semantics a landing-time packer
    * has (batch t6 re-packs a snapshot in full id order instead).
    */
  def incrementalSequencePack(docs: DataFrame, idCol: String,
      sourceCol: String, textCol: String,
      budget: Int): org.apache.spark.sql.Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        size(filter(split(col(textCol), " +"), x => length(x) > 0))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .as[PackDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[PackDoc], state: GroupState[Long]) =>
          // batch delivery order is not id order; sort within batch
          val arriving = it.toSeq.sortBy(_.doc_id)
          var cum = state.getOption.getOrElse(0L)
          val out = arriving.map { d =>
            val start = cum
            cum += d.n_tok
            PackedDoc(source, d.doc_id, d.n_tok, start,
              start / budget, (cum - 1) / budget)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** st8: INCREMENTAL LINE-LEVEL DEDUP — the C4 rule (batch d8) as a
    * dedup-at-ingest stream. Documents stream in (two id-ordered
    * micro-batches); each explodes into its `lineTokens`-token lines,
    * and a flatMapGroupsWithState registry KEYED BY LINE CONTENT
    * holds one boolean: has this line ever been seen. The first
    * arrival of a line owns it (kept=1), every later occurrence —
    * same batch or any future one — is dropped (kept=0); the corpus
    * is never rescanned. State is ONE boolean per distinct line
    * (production keys the store by md5(line): 16-byte keys in
    * RocksDB, the at-ingest twin of d8's window). Per-doc rollup
    * (counts, kept fraction, reassembled-text md5) runs downstream
    * of the sink, exactly the batch-d8 output shape.
    *
    * Oracle-checkable: micro-batches partition docs by id (median
    * split) and within-batch arrivals are sorted (doc_id, line_no),
    * so first-arrival = global (doc_id, line_no) minimum and
    * run-to-completion equals batch d8 — its oracle SQL applies
    * verbatim.
    */
  def st8StreamLineDedup(t: Tables, lineTokens: Int = 8): DataFrame = {
    val spark = t.spark
    val name = s"st8_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
    val q = incrementalLineDedup(docs, "doc_id", "text", lineTokens).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // batch-d8's rollup verbatim — shared code, shared oracle
    graft.operators.Dedup.lineRollup(spark.table(name))
  }

  /** Library core of st8: attach to ANY streaming (id, text) frame;
    * emits every line occurrence once with its first-owner verdict.
    */
  def incrementalLineDedup(docs: DataFrame, idCol: String,
      textCol: String, lineTokens: Int)
      : org.apache.spark.sql.Dataset[LineKept] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // batch-d8's line synthesis verbatim — shared code, shared oracle
    graft.operators.Dedup.lineExplode(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        lineTokens)
      .as[LineArr]
      .groupByKey(_.line)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[LineArr], state: GroupState[Boolean]) =>
          // batch delivery order is not id order; sort so the global
          // first occurrence wins within its batch
          val arriving = it.toSeq.sortBy(a => (a.doc_id, a.line_no))
          var seen = state.getOption.getOrElse(false)
          val out = arriving.map { a =>
            val kept = if (!seen) { seen = true; 1 } else 0
            LineKept(a.doc_id, a.line_no, a.line, kept)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** st9: STREAM-STATIC DECONTAMINATION — batch d7's screen as an
    * at-ingest stream, and the one canonical streaming join shape the
    * family was missing: a STATELESS stream-static join. The
    * benchmark's shingle set is a STATIC batch frame (eval suites are
    * tiny and fixed for a training run) BROADCAST against the
    * arriving document stream; each arriving doc's distinct 5-grams
    * probe it inline — no state store at all, because the static side
    * never grows and emissions depend only on the arriving row. This
    * is how production screens a landing stream against a pinned eval
    * suite: the join is map-side per micro-batch, the only stateful
    * work is the downstream (train, bench) rollup (here done once at
    * run end, batch-side of the sink).
    *
    * Oracle-checkable: emissions are arrival-order-independent (one
    * row per shared distinct shingle), so run-to-completion equals
    * batch d7 — its oracle SQL applies verbatim.
    */
  def st9StreamDecontaminate(t: Tables, k: Int = 5,
      benchMod: Long = 97): DataFrame = {
    val spark = t.spark
    val name = s"st9_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    // the static side of a stream-static join re-evaluates EVERY
    // micro-batch — cache it once or the full corpus scan + shingling
    // reruns per trigger (same rule as batch d7's materialized pass)
    graft.Caches.fresh()
    val bench = graft.Caches.materialized(spark.read.parquet(path)
      .filter(col("doc_id") % benchMod === 0)
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .select(col("doc_id").as("bench_id"),
        explode(graft.functions.Text.shinglesFast(k)(col("tk"))).as("sh")))
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
    val hits = docs
      .filter(col("doc_id") % benchMod =!= 0)
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .select(col("doc_id").as("train_id"),
        explode(graft.functions.Text.shinglesFast(k)(col("tk"))).as("sh"))
      // size-guarded hint (measured count off the materialized cache):
      // the eval-suite-is-small contract holds in production, but the
      // hint must not outlive it — past the budget the join shuffles
      .join(graft.Guards.sizedBroadcast(bench), "sh")
      .select("train_id", "bench_id")
    val q = hits.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_id", "bench_id")
  }

  /** st11: STREAMING PQ ENCODE — arriving embeddings compressed to
    * their PQ codes at ingest time under a PINNED offline-trained
    * model (the production serving contract: the codebook never
    * changes mid-stream; retraining is a new model version). The
    * encode is a pure STATELESS projection per micro-batch (s5's
    * projection verbatim) — no state store, no join, nothing grows:
    * the cheapest possible streaming operator shape, which is exactly
    * why PQ-at-ingest is how billion-scale vector stores land data.
    * Emissions are arrival-order-independent ⇒ batch s5's oracle
    * gates the stream output verbatim.
    */
  def st11StreamPqEncode(t: Tables, m: Int = 4, k: Int = 4,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val spark = t.spark
    val name = s"st11_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/embeddings.parquet"
    val schema = spark.read.parquet(path).schema
    // train (or reuse) the model BEFORE the stream starts
    val books = graft.operators.Ann.pqModel(t, m, k, iters, dim)
    val vecs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = graft.operators.Ann.pqEncodeFrame(vecs, books, dim / m)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name).orderBy("vec_id")
  }

  /** st12: STREAMING DECONTAMINATION SCRUB — arriving docs have their
    * benchmark-overlapping spans removed AT INGEST. The bench shingle
    * FRAME (tiny by the eval-suite contract) is PINNED before the
    * stream starts — the same pinned-artifact contract as st11's PQ
    * model — as a materialized static DataFrame, and each micro-batch
    * runs batch d11's scrub core against it via `foreachBatch`: the
    * bench join is size-guarded broadcast (measured count, shuffle
    * past the budget), the per-doc reassembly groupBy is batch-local
    * (every doc's tokens arrive in one row), and the micro-batches
    * get FULL batch planning including AQE. No state store, no
    * streaming aggregation, no driver-collected set, no plan literal
    * — nothing here scales with the corpus except the per-batch scan.
    * Emissions are arrival-order-independent ⇒ d11's oracle verbatim.
    */
  def st12StreamOverlapScrub(t: Tables, k: Int = 5,
      benchMod: Long = 97): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    graft.Caches.fresh()
    // pin the bench shingle frame (contamination screens are versioned
    // artifacts — never rebuilt mid-stream); materialized so the
    // static side isn't re-derived per micro-batch and the broadcast
    // guard's count is a cache read
    val bench = graft.Caches.materialized(spark.read.parquet(path)
      .filter(col("doc_id") % benchMod === 0)
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .filter(size(col("tk")) >= k)
      .select(explode(graft.functions.Text.shinglesFast(k)(col("tk")))
        .as("sh"))
      .distinct())
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
    val trainToks = docs
      .filter(col("doc_id") % benchMod =!= 0)
      .withColumn("tk", graft.functions.Text.tokenize(col("text")))
      .filter(size(col("tk")) > 0)
      .select("doc_id", "tk")
    // the returned frame reads it: it lives until the JVM exits
    val outDir = graft.Staging.scratch("st12_out")
    val q = trainToks.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.operators.Dedup.scrubTokens(batch.toDF(), bench, k)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** st13: INCREMENTAL GROUP MAINTENANCE — the continuous-dedup
    * deployment's second half: st4 emits near-dup PAIRS as docs land;
    * st13 maintains the GROUPS those pairs imply, without ever
    * re-running CC over the corpus per batch (SURVEY §5 design note,
    * implemented).
    *
    * State = three corpus-keyed TABLES (parquet, never driver
    * memory): the band→signature registry (the st4 shape, plus a
    * per-doc shingle table for exact verification), an adoption
    * `labels(doc_id, root)` table — one row per doc that has ever
    * matched, written once at its arrival — and a compressed EDGE LOG.
    *
    * Arrival path (per micro-batch, arrivals-only work): a new doc's
    * band keys probe the registry (equi-join), candidates verify with
    * the exact-Jaccard arithmetic batch d3/d6 use, and each verified
    * pair is logged root-COMPRESSED — both endpoints first rewritten
    * through `labels` (stale roots are fine: a stale root is still
    * inside the component, so connectivity is preserved) — while the
    * arrival adopts the min root it saw. Two existing groups bridged
    * by an arrival simply log a root-root edge; nothing corpus-wide
    * runs inline.
    *
    * Compaction (periodic in production, once at run end here):
    * pointer-jump CC over the COMPRESSED edge log — root-level rows,
    * orders of magnitude smaller than the raw pair set at scale —
    * rewrites the labels. Because compression preserves connectivity
    * exactly, the compacted groups equal batch d6's CC over the full
    * pair evidence: d6's oracle applies VERBATIM, and the spec
    * asserts bit-equality with the batch operator.
    *
    * Storage layout: bands/sh/labels are hash-bucket-PARTITIONED by
    * their probe keys, so every per-batch state read above is a
    * partition-PRUNED scan — probes touch only the buckets the
    * batch's keys hash into (PartitionFilters, locked by spec), never
    * the whole registry. Per-batch small-file buildup is rewritten
    * once a file-count budget is crossed ([[StateTable.compact]] —
    * io5's compaction pattern applied to state).
    */
  def st13StreamGroupMaintain(t: Tables,
      threshold: Double = 0.5): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    graft.Caches.fresh()
    val state = StateTable.open(spark, st13Family)
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
      .select("doc_id", "text")
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        st13MaintainStep(state, batch.toDF(), threshold, bid)
      }
      .start()
    q.processAllAvailable(); q.stop()
    st13Compact(state)
  }

  /** st13's state: four tables under one root. bands/sh/labels are
    * bucketed on each table's probe key (band+sig for the registry,
    * doc_id for shingles/labels) — the layout that lets a
    * micro-batch's probes prune to matching buckets instead of
    * rescanning corpus-sized parquet. The edge log is only ever read
    * whole (at compaction), so it stays flat.
    */
  private[graft] val st13Family: StateTable.Family = {
    import StateTable._
    Family("st13", Seq(
      Spec("bands", st13BandsSchema,
        Bucketed(Seq("band", "sig"), Seq("band", "sig")), SortedRewrite),
      Spec("sh", st13ShSchema,
        Bucketed(Seq("doc_id"), Seq("doc_id")), SortedRewrite),
      Spec("labels", st13LabelsSchema,
        Bucketed(Seq("doc_id"), Seq("doc_id")), SortedRewrite),
      Spec("edges", st13EdgesSchema, Flat, Coalesce)))
  }

  /** Hash bucket of a probe key into the bounded [0, nBuckets)
    * partition domain. Deterministic (Murmur3, the same `hash` both
    * writer and prober compile), so a probe's bucket set is always a
    * superset-safe restriction of its matching state rows.
    */
  private[graft] def st13Pb(n: Int)(keys: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column = pmod(hash(keys: _*), lit(n))

  // ----------------------------------------------------------------
  // shared maintained-state LAYOUT machinery (st13 / st14 / st15)
  // ----------------------------------------------------------------

  /** Default target bytes per state bucket. Bucket count is derived
    * from MEASURED state bytes (never guessed — the Guards /
    * lshConfigFor contract), so buckets stay ~constant-sized as the
    * corpus grows instead of growing linearly under a fixed count.
    */
  private[graft] val stateTargetBucketBytes: Long = 64L << 20

  /** AUTO-SIZED bucket count for a maintained state table holding
    * `stateBytes` of parquet: ⌈bytes/target⌉ rounded UP to a power of
    * two (so growth is a rare doubling event, not a per-compaction
    * churn), clamped to [floor, 2^16]. Two regimes at 100 TB:
    *  - below the 2^16 cap, buckets hold ~targetBucketBytes each and
    *    a probe's partition-pruned read is constant-sized;
    *  - past the cap (≳4 TB/table at the 64 MB default) the bucket
    *    count stops growing — partition-listing stays tractable and
    *    the [0, nB) pruning-literal collects stay bounded — and the
    *    WITHIN-bucket sorted rewrite ([[StateTable.compact]]) takes
    *    over: parquet row-group min/max stats on the sort key keep
    *    the actual read row-group-sized even as buckets grow.
    */
  private[graft] def stateBucketsFor(stateBytes: Long,
      targetBucketBytes: Long = stateTargetBucketBytes,
      floor: Int = 16): Int = {
    val want = math.min(1L << 16,
      math.max(1L, math.ceil(
        stateBytes.toDouble / targetBucketBytes).toLong)).toInt
    val pow2 = if (want <= 1) 1 else Integer.highestOneBit(want - 1) << 1
    math.max(floor, pow2)
  }

  /** Total parquet bytes under a state dir — a driver-side file
    * listing (planner-stats read), never a data scan.
    */
  private[graft] def stateDirBytes(dir: String): Long =
    graft.Fs.listRec(dir, ".parquet").map(_.len).sum

  // ---- maintained-state REWRITE COMMITS (the ONE recovery story) --
  //
  // Every state-table rewrite — compaction, re-bucketing, the st18
  // mirror merge — publishes through the state root's OWN TableLog,
  // io12's OPTIMIZE protocol applied to state: the rewrite lands in
  // a FRESH generation dir (`<table>.g<version>`), and ONE tagged
  // commit flips every rewritten table (remove the old generation's
  // files, add the new's) with the re-derived bucket count riding
  // the TAG — so (tables, count) change as a single atomic unit.
  // Readers resolve the CURRENT generation from the log snapshot at
  // state open. A crash BEFORE the commit leaves only an
  // unreferenced generation dir (swept at open, invisible to every
  // read); a crash AFTER it leaves superseded bytes that vacuum +
  // the same sweep reclaim. This deletes the second, hand-rolled
  // versioning mechanism the marker-era code carried beside
  // TableLog: the two-rename dir swap, its open-time recovery, the
  // compaction intent journal, and the count/tables atomicity gap
  // between them.

  private[graft] def stateLog(root: String): graft.sources.TableLog =
    graft.sources.TableLog.open(root)

  /** FileEntry list for a landed generation dir under `root` — stats
    * come from the PATH (the `pb=X` / `cid=X` partition value; 0 for
    * an unpartitioned table): a metadata-only build, no Spark job, no
    * parquet footer opened. Paths are recorded RELATIVE to the state
    * root, so a copied or moved root resolves, sweeps and vacuums its
    * own files, never the original's.
    */
  private def genEntries(root: String,
      dir: String): Seq[graft.sources.TableLog.FileEntry] =
    graft.Fs.listRec(dir, ".parquet").map { f =>
      val k = f.path.split('/').dropRight(1).lastOption
        .filter(_.contains("="))
        .flatMap(_.split("=", 2).lift(1))
        .flatMap(v => scala.util.Try(v.toLong).toOption)
        .getOrElse(0L)
      graft.sources.TableLog.FileEntry(
        f.path.stripPrefix(s"${root.stripSuffix("/")}/"), k, k, 0L)
    }

  /** Resolve the CURRENT dir of each state table under `root`: the
    * generation the log's head snapshot serves, or the plain
    * `root/<table>` dir for a root that predates any rewrite commit
    * (initial appends land there). Entries are root-relative; an
    * absolute entry (written before they were) counts only under this
    * same root. The generation marker is ANCHORED — `<table>.g<digits>`
    * matched from the relative path's start — so a root whose own path
    * happens to contain a `.g<digits>` segment (e.g.
    * `/data/labels.g1/state`) can never mis-resolve a table dir to a
    * prefix of the root.
    */
  private[graft] def resolveStateDirs(root: String,
      tables: Seq[String]): Map[String, String] = {
    val log = stateLog(root)
    val rootNorm = root.stripSuffix("/")
    val snap = log.latestVersion.map(log.snapshot).getOrElse(Nil)
      .map(_.path.stripPrefix(s"$rootNorm/"))
    tables.map { t =>
      val hit = snap.find(_.startsWith(s"$t.g")).map { p =>
        s"$t.g" + p.substring(t.length + 2).takeWhile(_.isDigit)
      }
      t -> s"$rootNorm/${hit.getOrElse(t)}"
    }.toMap
  }

  /** The bucket count the log's head rewrite commit declared
    * (`nb=<n>` in its tag), if any — the atomic partner of the
    * tables it flipped.
    */
  private[graft] def stateLogBuckets(root: String): Option[Int] = {
    val log = stateLog(root)
    log.latestVersion.flatMap { v =>
      "(?:^|[:;])nb=(\\d+)".r.findFirstMatchIn(log.tagOf(v))
        .map(_.group(1).toInt)
    }
  }

  /** Publish a completed multi-table rewrite: one tagged commit
    * removing every previous-generation file and adding the new
    * generations' — then vacuum the superseded tracked bytes and
    * sweep every non-current table dir (which also reclaims folded
    * batch-append files the log never tracked). Returns the commit
    * version (= the generation number the new dirs carry).
    */
  private[graft] def commitStateRewrite(root: String,
      tables: Seq[String], newDirs: Seq[String], tag: String): Long = {
    val log = stateLog(root)
    val prev = log.latestVersion.map(log.snapshot).getOrElse(Nil)
    val v = log.commit(
      prev.map(f => graft.sources.TableLog.Remove(f.path)) ++
        newDirs.flatMap(genEntries(root, _)).map(graft.sources.TableLog.Add),
      tag)
    // checkpoint EVERY rewrite commit: each one supersedes the whole
    // prior snapshot (Remove-all + Add-all), so an uncheckpointed log
    // makes snapshot() replay O(versions · files) — a follower
    // resolving its mirror per applied version would pay a quadratic
    // driver-side replay. With the checkpoint, resolution reads one
    // live file list + zero commits.
    log.checkpoint()
    log.vacuum(retain = 1)
    sweepStateGenerations(root, tables, resolveStateDirs(root, tables))
    v
  }

  /** Delete every `<table>` / `<table>.g<N>` dir that is not the
    * resolved CURRENT one: torn rewrites (staged, never committed)
    * and superseded generations (committed away; their untracked
    * batch-append remnants ride along). Run at state open and after
    * every rewrite commit.
    */
  private[graft] def sweepStateGenerations(root: String,
      tables: Seq[String], current: Map[String, String]): Unit =
    tables.foreach { t =>
      graft.Fs.list(root)
        .filter { d =>
          d.isDir && (d.name == t || d.name.matches(
            java.util.regex.Pattern.quote(t) + "\\.g\\d+")) &&
            d.path != current(t)
        }
        .foreach(d => graft.Fs.deleteTree(d.path))
    }

  /** The persisted bucket count for a state root — what makes a
    * RESUMED session compute the same `pb` the writer did after an
    * auto-resizing compaction changed it. One int in a flat file
    * beside the tables (the deployment analogue is a catalog entry).
    * Every persisted state scalar (bucket count, low-water mark,
    * epoch) is one [[graft.Fs.writeAtomic]] file: a crash mid-write
    * never leaves a truncated file a resumed session would fail to
    * parse.
    */
  private[streaming] def loadStateBuckets(root: String): Option[Int] =
    graft.Fs.read(s"$root/nbuckets.meta").map(_.trim.toInt)

  private[graft] def saveStateBuckets(root: String, n: Int): Unit =
    graft.Fs.writeAtomic(s"$root/nbuckets.meta", n.toString)

  // (The compaction intent journal that used to live here is gone:
  // the rewrite COMMIT above carries the bucket count in its tag, so
  // the (tables, count) pair flips atomically by construction and
  // there is no window for a journal to close.)

  // ---- batch-atomic multi-table appends --------------------------
  //
  // A maintenance step appends to SEVERAL state tables; under
  // at-least-once delivery a retry of a PARTIALLY-failed batch must
  // neither lose the failed tables (the guard marker landed, the
  // data table didn't) nor double-append the landed ones. The
  // anti-join guards only protect FULLY-committed redeliveries, so
  // batch atomicity is made structural instead:
  //
  //  - every appended file carries a `gb<bid>-` name prefix
  //    ([[appendTagged]]: the batch writes to scratch, files MOVE
  //    into the live pb-partitioned layout under tagged names — the
  //    partition dirs, and so the pruned-read contract, are
  //    untouched);
  //  - a batch is COMMITTED by one empty marker file written after
  //    ALL its table appends ([[commitBatch]]);
  //  - a step first checks the marker (committed ⇒ skip — the fast
  //    path for streaming retries, which redeliver under the SAME
  //    batch id), then — ONLY when an ATTEMPT marker proves a prior
  //    attempt of this batch started ([[markAttempt]]) — wipes any
  //    `gb<bid>-` remnants of that attempt ([[wipeBatch]]) before
  //    reprocessing. The attempt marker is what keeps the per-batch
  //    hot path O(1): the recursive state-file walk the wipe needs
  //    runs only on actual retries, never per clean batch (on an
  //    object store that walk is a LIST storm);
  //  - state OPEN wipes every tagged file whose batch has no marker
  //    ([[recoverUncommitted]]) — a crashed attempt from a PREVIOUS
  //    process cannot leave half a batch behind even if the retry
  //    arrives under a fresh id (the facade path).
  //
  // Compaction rewrites produce untagged files (consolidated state is
  // not attributable to a batch and is never wiped), which is also
  // what lets compaction RETIRE the markers ([[retireMarkers]]): once
  // every committed batch's rows live in untagged files, a persisted
  // LOW-WATER batch id replaces the individual marker files — commits
  // at-or-below it answer [[batchCommitted]] from one int, and the
  // marker dir stays bounded by the batches since the last compaction
  // instead of growing one file per batch forever (the small-file rot
  // the engine fixes everywhere else). Retirement assumes ordered
  // commits (streaming's checkpoint order / the single-writer facade
  // contract): a bid at-or-below the low-water mark can only be a
  // redelivery, never a first delivery.
  //
  // BATCH-ID NAMESPACE / EPOCH: Structured Streaming batch ids are
  // unique per CHECKPOINT, not per state root — a durable root
  // re-attached to a new query (fresh checkpoint restarting ids at 0)
  // would find old markers and silently drop genuinely-new batches.
  // Callers owning such roots pass the query's identity as `epoch` at
  // state open: an epoch CHANGE runs the barrier ([[epochBarrier]]) —
  // compaction folds every committed tagged file into untagged state,
  // then the whole marker namespace and the low-water mark reset, so
  // the new incarnation's ids start clean. Same-epoch reopens (and
  // the facade's nextBatchId path, which continues the one shared
  // namespace) skip the barrier.

  private def commitsDir(root: String): String = s"$root/commits"

  /** Highest RETIRED batch id (−1 = none): ids at-or-below it are
    * committed by definition, their marker files long deleted.
    */
  private[graft] def loadLowWater(root: String): Long =
    graft.Fs.read(s"$root/lowwater.meta").map(_.trim.toLong).getOrElse(-1L)

  private[graft] def saveLowWater(root: String, v: Long): Unit =
    graft.Fs.writeAtomic(s"$root/lowwater.meta", v.toString)

  private[graft] def batchCommitted(root: String, bid: Long): Boolean =
    bid <= loadLowWater(root) ||
      graft.Fs.stat(s"${commitsDir(root)}/b$bid").isDefined

  private[graft] def commitBatch(root: String, bid: Long): Unit =
    graft.Fs.writeAtomic(s"${commitsDir(root)}/b$bid", "")

  /** Attempt marker: written BEFORE a batch's first append, so a
    * retry can tell "this bid was tried and may have left tagged
    * remnants" (→ pay the wipe walk) from the clean first attempt
    * (→ skip it). One empty file, retired with the commit markers.
    */
  private[graft] def markAttempt(root: String, bid: Long): Unit =
    graft.Fs.writeAtomic(s"${commitsDir(root)}/a$bid", "")

  private[graft] def attemptExists(root: String, bid: Long): Boolean =
    graft.Fs.stat(s"${commitsDir(root)}/a$bid").isDefined

  /** Retire marker files at compaction: every committed batch's rows
    * now live in untagged files, so individual markers up to the max
    * committed id collapse into the persisted low-water int. Order
    * matters for crash safety: the low-water persist lands FIRST
    * (atomic), then the files delete — a crash between the two leaves
    * markers that merely linger until the next retirement.
    */
  private[graft] def retireMarkers(root: String): Unit = {
    val names = graft.Fs.list(commitsDir(root)).map(_.name)
    val bIds = names.collect { case n if n.startsWith("b") => n.drop(1).toLong }
    if (bIds.isEmpty) return
    // retire only the CONTIGUOUS committed prefix: low-water marks
    // every id at-or-below it as committed, so advancing past a GAP
    // (an uncommitted lower id — possible if a caller ever hands
    // out-of-order bids to StateTable.appendBatch) would silently drop
    // that batch's redelivery as "already committed". The wired
    // streaming paths commit in order, where prefix = max and the
    // collapse is total; an out-of-order history keeps its markers
    // above the gap until the gap commits.
    val bSet = bIds.toSet
    val cur = loadLowWater(root)
    var lw = cur
    while (bSet.contains(lw + 1L)) lw += 1L
    // persist-first crash order (see scaladoc); markers at-or-below
    // the (possibly unadvanced) mark still sweep — they linger only
    // from a crash between persist and delete
    if (lw > cur) saveLowWater(root, lw)
    names.foreach { n =>
      if ((n.startsWith("b") || n.startsWith("a")) &&
          n.drop(1).forall(_.isDigit) && n.drop(1).toLong <= lw)
        graft.Fs.deleteTree(s"${commitsDir(root)}/$n")
    }
  }

  // ---- batch-id epoch (durable roots vs fresh checkpoints) --------

  private[graft] def loadEpoch(root: String): Option[String] =
    graft.Fs.read(s"$root/epoch.meta").map(_.trim)

  private[graft] def saveEpoch(root: String, e: String): Unit =
    graft.Fs.writeAtomic(s"$root/epoch.meta", e)

  private def clearMarkers(root: String): Unit =
    graft.Fs.deleteTree(commitsDir(root))

  /** True iff the root carries any committed-batch history under the
    * current marker namespace — a retired low-water mark or any
    * commit marker file (a crashed write's hidden staging file is
    * not one).
    */
  private def hasCommitHistory(root: String): Boolean =
    loadLowWater(root) >= 0L ||
      graft.Fs.list(commitsDir(root)).exists(!_.name.startsWith("."))

  /** The epoch barrier, run at state open when the caller's `epoch`
    * differs from the persisted one (a durable root re-attached to a
    * NEW query whose checkpoint restarts batch ids at 0): `compact`
    * (the root's own compaction) folds every committed tagged file
    * into untagged state, then the marker namespace and low-water
    * reset so new-incarnation ids are genuinely new. A root with NO
    * persisted epoch but existing batch history is the same case —
    * its history belongs to the anonymous pre-epoch namespace (a
    * legacy root, or the facade's shared-id path), and adopting an
    * epoch over it without the barrier would leave new bid 0 looking
    * committed. Crash-safe by re-entrancy: the epoch persists LAST,
    * so a crash anywhere re-runs the (idempotent) barrier at the
    * next open.
    */
  private[streaming] def epochBarrier(root: String, epoch: Option[String],
      compact: () => Unit): Unit = epoch.foreach { e =>
    val old = loadEpoch(root)
    if (!old.contains(e)) {
      if (old.isDefined || hasCommitHistory(root)) {
        compact()
        clearMarkers(root)
        saveLowWater(root, -1L)
      }
      saveEpoch(root, e)
    }
  }

  /** Next unused batch id for NON-streaming callers (the facade's
    * step): streaming retries reuse their stable foreachBatch id, a
    * facade call is always a new batch — collisions with history are
    * what the commits dir plus the retired low-water mark record.
    */
  private[graft] def nextBatchId(root: String): Long = {
    val floor = loadLowWater(root) + 1L
    val ids = graft.Fs.list(commitsDir(root)).map(_.name).collect {
      case n if n.startsWith("b") => n.drop(1).toLong
    }
    if (ids.isEmpty) floor else math.max(ids.max + 1L, floor)
  }

  /** Append `df` into the live `pb`-partitioned table under
    * batch-tagged file names: write to scratch first, then land it
    * ([[graft.Fs.land]]) so each data file becomes
    * `dir/pb=X/gb<bid>-<name>` — the layout readers prune on is
    * unchanged, but the batch's files are identifiable (and so
    * wipe-able) afterwards.
    */
  private[graft] def appendTagged(df: DataFrame, dir: String,
      bid: Long, partCol: Option[String]): Unit = {
    val tmp = s"$dir.append-b$bid"
    val w = df.write.mode("overwrite")
    partCol.fold(w)(c => w.partitionBy(c)).parquet(tmp)
    graft.Fs.land(tmp, dir, s"gb$bid-", ".parquet")
    graft.Fs.deleteTree(tmp)
    ()
  }

  /** Delete every `gb<bid>-` file of a batch from the given table
    * dirs — the remnants of a failed attempt, before its retry.
    */
  private[graft] def wipeBatch(dirs: Seq[String], bid: Long): Unit = {
    val prefix = s"gb$bid-"
    dirs.foreach { dir =>
      graft.Fs.listRec(dir, ".parquet").filter(_.name.startsWith(prefix))
        .foreach(f => graft.Fs.deleteTree(f.path))
    }
  }

  /** Open-time recovery: wipe every tagged file whose batch never
    * committed, and any orphaned append-staging dir a crashed
    * attempt left beside a table (both from any previous process).
    */
  private[streaming] def recoverUncommitted(root: String,
      dirs: Seq[String]): Unit = {
    val tag = "^gb(\\d+)-.*".r
    // the low-water mark is loaded ONCE per recovery, not once per
    // tagged file (each read is a metadata round-trip — on an
    // object store, F leftover files must not cost F reads)
    val lowWater = loadLowWater(root)
    def committed(bid: Long): Boolean =
      bid <= lowWater || graft.Fs.stat(s"${commitsDir(root)}/b$bid").isDefined
    dirs.foreach { dir =>
      graft.Fs.listRec(dir, ".parquet").foreach { f =>
        f.name match {
          case tag(bid) if !committed(bid.toLong) => graft.Fs.deleteTree(f.path)
          case _ => ()
        }
      }
      val d = dir.stripSuffix("/")
      val cut = d.lastIndexOf('/')
      if (cut > 0)
        graft.Fs.list(d.take(cut))
          .filter(_.name.startsWith(s"${d.drop(cut + 1)}.append-b"))
          .foreach(e => graft.Fs.deleteTree(e.path))
    }
  }

  private[graft] def st13BandsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("sig",
        org.apache.spark.sql.types.StringType)))
  private[graft] def st13ShSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))))
  private[graft] def st13LabelsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("root",
        org.apache.spark.sql.types.LongType)))
  private[graft] def st13EdgesSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.LongType)))

  /** ONE maintenance step: probe the registry with a batch of
    * arriving (doc_id, text) rows, verify, log compressed edges,
    * adopt roots, append registry rows. Factored out of the stream so
    * specs can drive arbitrary batch sequences (staleness across ≥3
    * waves is unreachable through the 2-file stream staging).
    */
  private[graft] def st13MaintainStep(st: StateTable, batch: DataFrame,
      threshold: Double, bid: Long = -1L): Unit =
    // batch atomicity ([[StateTable.appendBatch]]): the four table
    // appends land as one unit or are wiped before the retry
    // reprocesses
    st.appendBatch(bid) {
      val nB = st.nBuckets
      // AT-LEAST-ONCE REDELIVERY GUARD (st14's contract): arrivals whose
      // doc_id is already in the shingle registry are re-deliveries (a
      // foreachBatch retry, a replayed file) — a blind re-process would
      // duplicate registry rows and self-pair every shingle. The guard
      // is an anti-join against the shingle table bucket-pruned to the
      // arrivals' doc_id buckets: arrivals-sized, never a corpus scan.
      val arrivals = graft.Caches.materialized(batch)
      val arrPbs = arrivals.select(st13Pb(nB)(col("doc_id")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      val seenDocs = st.read("sh")
        .filter(col("pb").isin(arrPbs: _*))
        .select("doc_id")
      val sigs = graft.Caches.materialized(
        graft.operators.Dedup.minhashDocs(
          arrivals.join(seenDocs, Seq("doc_id"), "left_anti")))
      val bands = graft.Caches.materialized(
        graft.operators.Dedup.bandSigs(sigs)
          .withColumn("pb", st13Pb(nB)(col("band"), col("sig"))))
      // The pruning literals are drawn from the BOUNDED [0, nBuckets)
      // partition domain — each collect is ≤ nBuckets ints off an
      // already-materialized cache, O(1) in both batch and corpus size
      // (the same measured-and-bounded contract as graft.Guards), and
      // the IN list is what turns each state read below into a
      // partition-PRUNED scan (PartitionFilters in the step plan)
      // instead of a full-registry scan per micro-batch.
      val batchPbs = bands.select("pb").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      // candidates: arrivals vs the registry (bucket-pruned to the
      // batch's band-key buckets), plus arrival-arrival within the
      // batch — canonical a < b either way
      val old = st13BandProbe(st, batchPbs)
      val candOld = bands.as("n").join(old.as("o"),
          col("n.band") === col("o.band") && col("n.sig") === col("o.sig"))
        .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
          greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      val candNew = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      val cand = graft.Caches.materialized(candOld.unionByName(candNew)
        .filter(col("doc_a") =!= col("doc_b")).distinct())
      // the shingle/label lookups only need rows for the candidate
      // ENDPOINTS (registry partners included, so the batch's own pb
      // set is not enough) — again a bounded-domain pb collect
      val endpointPbs = cand
        .select(explode(array(st13Pb(nB)(col("doc_a")),
          st13Pb(nB)(col("doc_b")))).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      // exact verification — the batch d3/d6 arithmetic verbatim;
      // counterpart shingles come from the registry's shingle table,
      // bucket-pruned to the endpoints' buckets
      val shAll = st.read("sh")
        .filter(col("pb").isin(endpointPbs: _*))
        .select("doc_id", "sh")
        .unionByName(sigs.select("doc_id", "sh"))
      // NOT separately materialized: `compressed` below is this frame's
      // only consumer and is itself materialized, so a pairs checkpoint
      // was one whole extra job per batch for lineage that dies the
      // moment compressed pins (guide §1.2 — fewer driver round-trips
      // per batch)
      val pairs = cand
        .join(shAll.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
          "doc_a")
        .join(shAll.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
          "doc_b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jaccard", round(col("inter") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 4))
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
      // root-compress both endpoints through the adoption table —
      // lookup keys are candidate endpoints, so the same pb pruning
      // applies (anti-join included: a bucket with no endpoint pb
      // cannot hold a matching label row)
      val labels = st.read("labels")
        .filter(col("pb").isin(endpointPbs: _*))
        .select("doc_id", "root")
      val compressed = graft.Caches.materialized(pairs
        .join(labels.select(col("doc_id").as("doc_a"),
          col("root").as("ra")), Seq("doc_a"), "left")
        .join(labels.select(col("doc_id").as("doc_b"),
          col("root").as("rb")), Seq("doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("ra"), col("doc_a")).as("x"),
          coalesce(col("rb"), col("doc_b")).as("y")))
      // arrivals adopt the min root they saw (self included); docs
      // with no match stay out of the table — lookups coalesce to
      // self, keeping labels match-count-sized, not corpus-sized
      val newLabels = graft.Caches.materialized(compressed
        .select(explode(array(
          struct(col("doc_a").as("d"), col("y").as("r")),
          struct(col("doc_b").as("d"), col("x").as("r")))).as("t"))
        .select(col("t.d").as("doc_id"), col("t.r").as("r"))
        .join(sigs.select("doc_id"), "doc_id")
        .join(labels, Seq("doc_id"), "left_anti")
        .groupBy("doc_id")
        .agg(least(min(col("r")), min(col("doc_id"))).as("root")))
      // all reads above are materialized — appends are now safe. The
      // four appends are INDEPENDENT (distinct dirs, all inputs pinned):
      // per-append cost is dominated by per-file creation latency,
      // which overlaps across the concurrent table appends. Storage
      // stays bounded by ONE batch's working set, not the batch count
      // (d6's per-iteration drop contract): the caches drop once the
      // appends land.
      (Seq(
        "edges" -> compressed.select(col("x"), col("y"))
          .filter(col("x") =!= col("y")).distinct(),
        "labels" -> newLabels,
        "bands" -> bands,
        "sh" -> sigs),
        Seq(compressed, newLabels, cand, bands, sigs, arrivals))
    }

  /** The registry probe frame a maintenance step scans: the bands
    * table bucket-pruned to `pbs`. Factored out so the plan-lock spec
    * can assert the pruning (PartitionFilters on pb, no full-registry
    * scan) on exactly the frame the step uses.
    */
  private[graft] def st13BandProbe(st: StateTable,
      pbs: Seq[Int]): DataFrame =
    st.read("bands").filter(col("pb").isin(pbs: _*))

  /** Compaction: pointer-jump CC over the compressed edge log ONLY. */
  private[graft] def st13Compact(st: StateTable): DataFrame =
    graft.operators.Dedup.ccGroups(
      st.read("edges").select(col("x").as("doc_a"), col("y").as("doc_b")))

  // ----------------------------------------------------------------
  // st14: incremental SEARCH-INDEX maintenance
  // ----------------------------------------------------------------

  /** st14: INCREMENTAL SEARCH-INDEX MAINTENANCE — the serving-index
    * twin of st13's group maintenance: documents arrive as a stream
    * and the search index (the staged-TF contract r7/r8/r9/r13 serve
    * from) is MAINTAINED, never rebuilt: per micro-batch, arrivals
    * are tokenized and their postings/doc-length rows appended;
    * nothing corpus-wide runs per batch. The reference builds its
    * minsearch index once at startup — at 100 TB with a live corpus
    * that build is a maintained table, not a scheduled rebuild.
    *
    * State = three tables under one root (parquet, never driver
    * memory): `postings(term, doc_id, tf)` hash-bucket-PARTITIONED by
    * term (the probe key a QUERY arrives with), `doclen(doc_id, dl)`
    * partitioned by doc_id (the probe key the candidate lookup uses),
    * and a flat `stats(nd, len_sum)` log — ONE row per batch, so the
    * global BM25 stats (N, avgdl) are an O(batch-count) sum, never a
    * corpus scan.
    *
    * Serving ([[st14Serve]]): a query reads ONLY its terms' posting
    * buckets (partition-PRUNED, spec-locked), discovers the candidate
    * docs, reads only THOSE docs' doclen buckets (the same
    * bounded-domain pb collect contract as st13's probes), sums the
    * stats log, and scores the exact BM25 arithmetic of batch r8 —
    * df per term is exact because a term's ENTIRE posting list lives
    * in its one bucket. Disjoint arrivals make maintained state equal
    * the batch index row-for-row, so r8's oracle applies VERBATIM;
    * the spec asserts bit-equality with the batch operator.
    *
    * Per-batch small files are rewritten past a file-count budget
    * ([[StateTable.compact]] — io5's pattern).
    */
  def st14StreamIndexMaintain(t: Tables): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    graft.Caches.fresh()
    val state = StateTable.open(spark, st14Family)
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
      .select("doc_id", "text")
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        st14MaintainStep(state, batch.toDF(), bid)
      }
      .start()
    q.processAllAvailable(); q.stop()
    st14Serve(state, graft.operators.Search.queryTerms, 5)
  }

  /** st14's state: three tables under one root — st13's layout
    * contract (buckets on each table's probe key; stats is only ever
    * summed whole, so it stays flat). Compaction sorts postings by
    * (term, doc_id) within each bucket, doclen by doc_id — a query
    * term's `isin` read then skips parquet row groups by min/max
    * stats, so the serving scan is posting-list-sized, not
    * bucket-sized (spec-measured: fewer rows read after compaction on
    * a multi-term corpus) — and COLLAPSES the stats log to its running
    * total (sums are associative, so the collapsed log serves
    * identically and cannot grow with batch count).
    */
  private[graft] val st14Family: StateTable.Family = {
    import StateTable._
    Family("st14", Seq(
      Spec("postings", st14PostingsSchema,
        Bucketed(Seq("term"), Seq("term", "doc_id")), SortedRewrite),
      Spec("doclen", st14DoclenSchema,
        Bucketed(Seq("doc_id"), Seq("doc_id")), SortedRewrite),
      Spec("stats", st14StatsSchema, Flat, SumCollapse)))
  }

  private[graft] def st14PostingsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType)))
  private[graft] def st14DoclenSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dl",
        org.apache.spark.sql.types.LongType)))
  private[graft] def st14StatsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nd",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("len_sum",
        org.apache.spark.sql.types.LongType)))

  /** ONE maintenance step: tokenize the ARRIVING (doc_id, text) rows
    * (batch r5's tokenize+explode+groupBy verbatim, so maintained
    * postings equal the batch TF table row-for-row), append postings
    * partitioned by term bucket, doc lengths by doc_id bucket, and
    * ONE (nd, len_sum) stats row. All work is arrivals-sized; the
    * appends are independent and run concurrently (st13's pattern).
    *
    * AT-LEAST-ONCE REDELIVERY GUARD: arrivals already in the index
    * (a foreachBatch retry, a replayed source file) are dropped by an
    * anti-join against the doclen table — bucket-pruned to the
    * arrivals' doc_id buckets, so the guard costs an arrivals-sized
    * pruned read, not a corpus scan. A blind append here would
    * duplicate postings and double-count nd/len_sum, silently
    * corrupting df/avgdl.
    */
  private[graft] def st14MaintainStep(st: StateTable,
      batch: DataFrame, bid: Long = -1L): Unit =
    // batch atomicity ([[StateTable.appendBatch]]): a streaming retry
    // redelivers under its stable id — committed ⇒ the whole step is
    // a no-op; otherwise any half-landed remnants of a failed attempt
    // are wiped before reprocessing, so the three table appends
    // commit as one unit
    st.appendBatch(bid) {
      val arrivals = graft.Caches.materialized(batch)
      val arrPbs = arrivals.select(st13Pb(st.nBuckets)(col("doc_id")).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      val seen = st.read("doclen")
        .filter(col("pb").isin(arrPbs: _*))
        .select("doc_id")
      val tf = graft.Caches.materialized(arrivals
        .join(seen, Seq("doc_id"), "left_anti")
        .repartition(st.spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(graft.functions.Text.tokenize(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf")))
      val dl = graft.Caches.materialized(
        tf.groupBy("doc_id").agg(sum("tf").as("dl")))
      (Seq(
        "postings" -> tf,
        "doclen" -> dl,
        "stats" -> dl.agg(count(lit(1)).as("nd"), sum("dl").as("len_sum"))),
        Seq(arrivals, tf, dl))
    }

  /** The pruned postings frame a query scans — factored out so the
    * plan-lock spec asserts the pruning on exactly the serving frame.
    */
  private[graft] def st14PostingProbe(st: StateTable,
      terms: Seq[String]): DataFrame = {
    val spark = st.spark
    import spark.implicits._
    // bounded-domain pb collect (≤ |terms| ints): the query's term
    // bucket set, computed with the same Murmur3 the writer compiled
    val qpbs = terms.toDF("term")
      .select(st13Pb(st.nBuckets)(col("term")).as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    st.read("postings")
      .filter(col("pb").isin(qpbs: _*))
      .filter(col("term").isin(terms: _*))
      .select("doc_id", "term", "tf")
  }

  /** BM25 serving from the maintained state — batch r8's arithmetic
    * (k1=1.2, b=0.75, round(·,4), (score desc, doc_id) top-k) with
    * every read bucket-pruned: postings to the query terms' buckets,
    * doclen to the candidate docs' buckets, stats summed whole (an
    * O(batch-count) log). avgdl = len_sum/nd is exact-integer double
    * arithmetic, so it equals batch avg(dl) bit-for-bit.
    */
  private[graft] def st14Serve(st: StateTable, terms: Seq[String],
      k: Int): DataFrame = {
    val spark = st.spark
    val nB = st.nBuckets
    val k1 = 1.2; val b = 0.75
    // the materialized pruned postings feed the candidate collect AND
    // both consumers of the returned plan (idf + scoring branches),
    // so the cache must stay live until the CALLER consumes the
    // result — it is REGISTERED here and released by the next public
    // entry's fresh(). The scope itself is owned by the public
    // serving entries (Graft.IndexMaintenance.search, the st14
    // operator): a shared internal must never call fresh() and drop
    // its caller's caches (Caches' contract).
    val posts = graft.Caches.materialized(st14PostingProbe(st, terms))
    // candidate endpoints' doclen buckets — bounded-domain (≤ nB)
    val candPbs = posts.select(st13Pb(nB)(col("doc_id")).as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val dl = st.read("doclen")
      .filter(col("pb").isin(candPbs: _*))
      .select("doc_id", "dl")
    val stats = st.read("stats")
      .agg(sum("nd").as("nd"), sum("len_sum").as("len_sum"))
      .withColumn("avgdl", col("len_sum").cast("double") / col("nd"))
      .select("nd", "avgdl")
    val idf = posts.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_bm",
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)))
    val out = posts
      .join(idf.select("term", "idf_bm", "avgdl"), "term")
      .join(dl, "doc_id")
      .withColumn("contrib",
        col("idf_bm") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    out
  }

  // ----------------------------------------------------------------
  // st16: write-time manifest maintenance (io10's metadata layer at
  // the sink)
  // ----------------------------------------------------------------

  /** st16: WRITE-TIME MANIFEST MAINTENANCE — io10 derives its
    * file-stats manifest from an already-landed layout; at 100 TB
    * the manifest is maintained BY THE SINK as data arrives, which
    * is exactly what this operator does: each micro-batch lands its
    * rows clustered by event_id into a per-batch directory and
    * COMMITS that batch's per-file (min, max, rows) entries to the
    * table's [[graft.sources.TableLog]] — the SAME versioned commit
    * log the batch lake family (io4/io7/io8/io10) serves from, so a
    * streaming sink produces a first-class versioned table: every
    * micro-batch is a snapshot, time travel and pruning come from
    * the log, and the work stays arrivals-sized (nothing corpus-wide
    * per batch).
    *
    * AT-LEAST-ONCE SAFE by the log's tag: each commit carries the
    * batch id as its idempotence tag — a foreachBatch retry finds
    * its tag already committed and skips both the land and the
    * commit (structural idempotence enforced by the metadata layer,
    * not by directory-overwrite convention). A crash BETWEEN land
    * and commit leaves orphan data files no snapshot references —
    * invisible to every reader, re-landed by the retry (commit-log
    * formats call the cleanup "vacuum").
    *
    * Serving replays io10's plan through the log: snapshot → stats-
    * admitted file list (O(files) metadata) → pruned multi-file scan
    * → the range aggregate. Every event arrives exactly once across
    * the batches, so the served answer equals the batch range query —
    * io10's oracle VERBATIM.
    *
    * FILE GROWTH IS BOUNDED: past the sink's file budget the step
    * runs [[sinkMaintain]] — io12's OPTIMIZE rewrite + io11's VACUUM
    * wired into the sink — so a long-running stream converges to
    * right-sized clustered files instead of accreting one dir per
    * batch forever, with batch tags still answering redelivery
    * checks across the rewrite (drilled over ~20 batches in
    * AnnStreamSpec).
    */
  def st16StreamManifestSink(t: Tables): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/events.parquet"
    val staged = graft.Staging.dir(s"${t.dir}:st16", "st16") { d =>
      val schema = spark.read.parquet(path).schema
      val ev = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir(t, path, "event_id"))
        .select("event_id", "event_type", "value")
      val q = ev.writeStream
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          st16SinkStep(spark, d, batch.toDF(), bid)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    st16Serve(spark, staged, 100L, 399L)
  }

  /** ONE sink step: land the batch clustered by event_id under a
    * batch-keyed dir, then commit its file stats to the table log
    * tagged with the batch id (see [[st16StreamManifestSink]] for
    * the idempotence contract). Past `maxFiles` live files the step
    * runs [[sinkMaintain]] — io12's OPTIMIZE + io11's VACUUM at the
    * sink, so the table's file count is BOUNDED however many batches
    * arrive (st13/st14's state-compaction trigger applied to the
    * versioned table itself).
    */
  private[graft] def st16SinkStep(
      spark: org.apache.spark.sql.SparkSession, tableRoot: String,
      batch: DataFrame, bid: Long, maxFiles: Int = 6): Unit = {
    val log = graft.sources.TableLog.open(tableRoot)
    val vOpt = landClusteredCommit(spark, log, tableRoot, batch,
      s"b$bid", s"b@$bid")
    // redelivery: the tag is already committed ⇒ the whole step is a
    // no-op (never re-land, never double-commit)
    if (vOpt.isEmpty) return
    val v = vOpt.get
    // the sink maintains the PLANNING-cost bound too: every 8 batches
    // the log checkpoints, so a reader's replay is bounded by the
    // checkpoint interval, not the batch history (st14's stats-log
    // collapse applied to the metadata layer itself)
    if ((v + 1) % 8 == 0) log.checkpoint()
    sinkMaintain(spark, log, tableRoot, s"$tableRoot/m$bid",
      "event_id", graft.sources.Io.io10Schema, s"maintain@$bid",
      maxFiles, nMin = 4)
  }

  /** The sink protocol's ONE landing move, shared by st16's
    * per-batch tail step and st21's backfill: land the rows
    * clustered by event_id under `dirName`, commit the per-file
    * stats Adds under `tag`. Returns None when the tag is already
    * committed (redelivery / re-run ⇒ structural no-op: never
    * re-land, never double-commit).
    */
  /** Committed-tag probe for the streaming sinks, with the
    * pre-round-14 legacy-shape fallback ("b@7" also answers a log
    * whose writer tagged "b7"): the txn watermark renamed the
    * per-batch tags, and a restarted stream on an old-format root
    * must still see its redelivered batch as committed, or it
    * re-lands data that is already in the table. The legacy probe
    * only runs when the current shape misses, so fresh-format roots
    * pay nothing extra.
    */
  private[graft] def tagCommitted(log: graft.sources.TableLog,
      tag: String): Boolean =
    log.committed(tag) ||
      (tag.contains("@") && log.committed(tag.replace("@", "")))

  private[graft] def landClusteredCommit(
      spark: org.apache.spark.sql.SparkSession,
      log: graft.sources.TableLog, tableRoot: String, batch: DataFrame,
      dirName: String, tag: String, nParts: Int = 4): Option[Long] = {
    if (tagCommitted(log, tag)) return None
    val bDir = s"$tableRoot/$dirName"
    batch.repartitionByRange(nParts, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(bDir)
    Some(log.commit(
      graft.sources.TableLog.statsFor(spark, bDir, "event_id",
        graft.sources.Io.io10Schema).map(graft.sources.TableLog.Add),
      tag))
  }

  /** FILE-BUDGET MAINTENANCE for a [[graft.sources.TableLog]]-backed
    * streaming sink — the pass that keeps a sink table's live file
    * count BOUNDED as batches accrete forever (the one genuine
    * scale-rot a per-batch landing has): when the live snapshot
    * exceeds `maxFiles`, rewrite it clustered by `keyCol` into
    * max(nMin, ⌈bytes/targetBytes⌉) right-sized files (nMin keeps the
    * stats-pruning granularity a single giant file would destroy),
    * publish remove-all + add-rewritten in ONE tagged OCC commit
    * (io12's OPTIMIZE protocol — a redelivered pass finds its tag and
    * skips the rewrite), VACUUM down to the retained window (io11 —
    * the dead per-batch bytes are physically reclaimed), and sweep
    * batch dirs that no longer hold any data file. Batch-id TAGS are
    * untouched throughout: they live in the commit history, which
    * vacuum never deletes — redelivery checks keep answering across
    * the rewrite.
    *
    * Scale: triggers at the budget, not per batch, so the rewrite +
    * vacuum (an O(history) metadata pass) amortize over the batches
    * since the last trigger; the rewrite reads only live bytes. A
    * crash between the rewrite commit and the vacuum leaves dead
    * bytes that the NEXT trigger reclaims (vacuum is idempotent) —
    * Delta's periodic-VACUUM posture exactly.
    */
  private[graft] def sinkMaintain(
      spark: org.apache.spark.sql.SparkSession,
      log: graft.sources.TableLog, sweepRoot: String, outDir: String,
      keyCol: String, schema: org.apache.spark.sql.types.StructType,
      tag: String, maxFiles: Int, nMin: Int = 1,
      targetBytes: Long = 8L << 20, retain: Int = 1): Unit = {
    val head = log.latestVersion.getOrElse(-1L)
    if (head < 0L || log.snapshot(head).length <= maxFiles) return
    if (!tagCommitted(log, tag)) {
      def bytes(p: String) = graft.Fs.stat(p)
        .getOrElse(throw new java.io.FileNotFoundException(p)).len
      val n = math.max(nMin.toLong,
        (log.snapshot(head).map(f => bytes(f.path)).sum +
          targetBytes - 1) / targetBytes).toInt
      graft.sources.Io.clusteredRewriteCommit(spark, log, outDir,
        schema, keyCol, n, tag)
    }
    log.vacuum(retain)
    sweepDeadBatchDirs(sweepRoot)
    val (outParent, outName) = {
      val d = outDir.stripSuffix("/")
      (d.take(d.lastIndexOf('/')), d.drop(d.lastIndexOf('/') + 1))
    }
    if (outParent != sweepRoot) sweepDeadBatchDirs(outParent)
    // TORN-ATTEMPT RECLAIM: a crash between a previous maintenance
    // pass's rewrite write and its tagged commit leaves an m<bid> dir
    // whose files no commit ever referenced — vacuum (Add'd paths
    // only) and the dead-dir sweep (spares dirs holding parquet) can
    // never reclaim it, and the batch's own tag blocks a re-run. At
    // the NEXT maintenance trigger (here), any sibling m-dir other
    // than this pass's own outDir whose parquet files are ALL
    // unreferenced by the log is exactly that leftover — delete it.
    // Cost: one addedPaths set build, already O(history) like the
    // vacuum beside it, paid only at maintenance cadence.
    def pathOf(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val added = log.addedPaths.map(pathOf)
    graft.Fs.list(outParent)
      .filter { d =>
        d.isDir && d.name.matches("m\\d+") && d.name != outName && {
          val fs = graft.Fs.listRec(d.path, ".parquet")
          fs.nonEmpty && fs.forall(f => !added.contains(pathOf(f.path)))
        }
      }
      .foreach(d => graft.Fs.deleteTree(d.path))
  }

  /** Remove per-batch landing/maintenance dirs (`b<id>` / `m<id>`)
    * that hold no data file — vacuum deletes the FILES it knows from
    * Add actions; the empty shells are the sink's to reclaim. A dir
    * still holding any parquet (e.g. the uncommitted side of a torn
    * two-destination batch) is left alone.
    */
  private def sweepDeadBatchDirs(root: String): Unit =
    graft.Fs.list(root)
      .filter(d => d.isDir && d.name.matches("[bm]\\d+") &&
        graft.Fs.listRec(d.path, ".parquet").isEmpty)
      .foreach(d => graft.Fs.deleteTree(d.path))

  /** io10's serving plan over the MAINTAINED table log: snapshot →
    * stats-admitted file list (bounded by the log's entry count) →
    * pruned multi-file scan → the range aggregate.
    */
  private[graft] def st16Serve(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String, lo: Long, hi: Long): DataFrame = {
    val log = graft.sources.TableLog.open(tableRoot)
    log.prunedRead(spark, graft.sources.Io.io10Schema,
        log.latestVersion.getOrElse(-1L), lo, hi)
      .filter(col("event_id").between(lo, hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy("event_type")
  }

  /** st21: BACKFILL THEN TAIL — bootstrapping a NEW streaming sink
    * from history, the first move of every production deployment
    * (Spark's Trigger.AvailableNow posture: drain what exists, then
    * tail): the historical corpus lands in ONE batch pass through
    * the SAME landing protocol the tail's micro-batches use
    * ([[landClusteredCommit]]), under the reserved `backfill` tag in
    * the same [[graft.sources.TableLog]] — then the live stream
    * attaches its foreachBatch sink ([[st16SinkStep]]) to the
    * pre-populated table and continues incrementally. The handoff is
    * exactly-once BY CONSTRUCTION on both axes: the source split is
    * disjoint (history = ids ≤ median, live = the rest), and both
    * phases are tag-idempotent (a re-run backfill finds its tag and
    * lands nothing; a redelivered tail batch likewise), so the served
    * table equals the batch answer over the full corpus — io10's
    * oracle verbatim, st16's equality extended across the bootstrap
    * boundary.
    *
    * Scale: the backfill is one range-clustered write of the history
    * (right-sizing then falls to the sink's own maintenance pass,
    * which treats backfill and batch files uniformly — the first
    * tail batches trigger it when the combined count passes the
    * budget); the tail accretes arrivals-sized batches exactly as
    * st16. Nothing re-reads history after the one pass.
    */
  def st21BackfillThenTail(t: Tables): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/events.parquet"
    val staged = graft.Staging.dir(s"${t.dir}:st21", "st21") { d =>
      val all = spark.read.parquet(path)
        .select("event_id", "event_type", "value")
      val Array(mid) =
        all.stat.approxQuantile("event_id", Array(0.5), 0.0)
      // the id-ordered first half stands in for the historical
      // corpus; the rest arrives live (two files → two micro-batches)
      all.filter(col("event_id") <= mid).coalesce(1)
        .write.parquet(s"$d/history")
      all.filter(col("event_id") > mid)
        .repartitionByRange(2, col("event_id"))
        .write.parquet(s"$d/live")
      val table = s"$d/table"
      st21Backfill(spark, table, spark.read.parquet(s"$d/history"))
      val q = spark.readStream
        .schema(spark.read.parquet(s"$d/live").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$d/live")
        .writeStream
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          st16SinkStep(spark, table, batch.toDF(), bid)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    st16Serve(spark, s"$staged/table", 100L, 399L)
  }

  /** The backfill pass: the history frame through the sink's ONE
    * landing move under the reserved tag. Returns the committed
    * version, or None when the backfill already ran (idempotent
    * re-run — the bootstrap can crash and be retried wholesale).
    */
  private[graft] def st21Backfill(
      spark: org.apache.spark.sql.SparkSession, tableRoot: String,
      history: DataFrame, nParts: Int = 4): Option[Long] =
    landClusteredCommit(spark,
      graft.sources.TableLog.open(tableRoot), tableRoot, history,
      "backfill", "backfill", nParts)

  /** The maintained manifest (latest snapshot's file stats) as a
    * frame — spec access (pruning witness).
    */
  private[graft] def st16Manifest(t: Tables): Option[DataFrame] =
    graft.Staging.lookup(s"${t.dir}:st16").map { d =>
      val log = graft.sources.TableLog.open(d)
      val snap = log.snapshot(log.latestVersion.getOrElse(-1L))
        .map(f => (f.path, f.minKey, f.maxKey, f.nRows))
      val spark = t.spark
      import spark.implicits._
      snap.toDF("file", "min_id", "max_id", "n_rows")
    }

  // ----------------------------------------------------------------
  // st19: streaming EXPECTATIONS sink — io15's quality gate at the
  // micro-batch boundary
  // ----------------------------------------------------------------

  /** st19: STREAMING EXPECTATIONS SINK — io15's row-level quality
    * gate applied where production applies it: AT THE SINK, per
    * micro-batch (Delta Live Tables expectations on a streaming
    * table). Each arriving batch is classified against the named
    * expectation (`neg_value`: value ≥ 0 — arrivals carry a
    * deterministic poisoning, event_id ≡ 0 mod 37 negated), split in
    * ONE `partitionBy(dest)` write under a batch-keyed dir, and each
    * side commits to ITS OWN [[graft.sources.TableLog]] tagged with
    * the batch id — main and quarantine are both first-class
    * versioned tables that grow batch by batch.
    *
    * AT-LEAST-ONCE SAFE with TWO destinations (the subtlety st16
    * doesn't have): a retry first reads BOTH sides' tags — both
    * present ⇒ no-op; NEITHER present ⇒ the previous attempt never
    * committed anything, so re-landing (overwrite) is safe; exactly
    * ONE present ⇒ the landing from the committed attempt is intact
    * (tags follow the write), so the retry must NOT re-land — it
    * commits the missing side from the existing files. Re-landing
    * in that state would rewrite the part files the committed side's
    * log already references (the tag-collapse hazard, closed the
    * same way).
    *
    * Serving unions both tables' live snapshots into the per
    * (dest, reason) aggregate — exactly-once arrivals across batches
    * make it equal the batch classification, io15's oracle shape on
    * the events table.
    *
    * FILE GROWTH IS BOUNDED on BOTH destinations: past the budget
    * each side's table runs [[sinkMaintain]] (io12's OPTIMIZE +
    * io11's VACUUM at the sink). The dead-dir sweep spares any batch
    * dir still holding an uncommitted side's files, so the
    * two-destination retry protocol keeps its re-land source across
    * a maintenance pass.
    */
  def st19StreamExpectations(t: Tables): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/events.parquet"
    val staged = graft.Staging.dir(s"${t.dir}:st19", "st19") { d =>
      val schema = spark.read.parquet(path).schema
      val ev = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir(t, path, "event_id"))
        .select("event_id", "event_type", "value")
      val q = ev.writeStream
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          st19SinkStep(spark, d, batch.toDF(), bid)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    st19Serve(spark, staged)
  }

  private[graft] val st19Schema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("reason",
        org.apache.spark.sql.types.StringType)))

  /** ONE sink step: classify, land split by dest under the batch
    * dir, commit each side tagged — see [[st19StreamExpectations]]
    * for the two-destination redelivery protocol.
    */
  private[graft] def st19SinkStep(
      spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, bid: Long, maxFiles: Int = 6): Unit = {
    val mainLog = graft.sources.TableLog.open(s"$root/main")
    val qLog = graft.sources.TableLog.open(s"$root/quarantine")
    val tag = s"b@$bid"
    val mainDone = tagCommitted(mainLog, tag)
    val qDone = tagCommitted(qLog, tag)
    if (mainDone && qDone) return
    val bDir = s"$root/b$bid"
    if (!mainDone && !qDone) {
      // fresh (or never-committed torn) attempt: land the classified
      // split in one pass
      batch
        .withColumn("value",
          when(col("event_id") % 37 === 0, -col("value"))
            .otherwise(col("value")))
        .withColumn("reason",
          when(col("value") < 0, lit("neg_value")))
        .withColumn("dest",
          when(col("reason").isNull, lit("main")).otherwise(lit("quarantine")))
        .write.partitionBy("dest").mode("overwrite").parquet(bDir)
    }
    def commitSide(log: graft.sources.TableLog, sub: String): Unit = {
      graft.sources.TableLog.commitDir(spark, log, s"$bDir/dest=$sub",
        "event_id", st19Schema, tag)
      ()
    }
    if (!mainDone) commitSide(mainLog, "main")
    if (!qDone) commitSide(qLog, "quarantine")
    // file-budget maintenance on EACH destination table (io12's
    // OPTIMIZE + io11's VACUUM at the sink — see sinkMaintain): the
    // sweep spares any batch dir still holding an uncommitted side's
    // files, so the two-destination retry protocol above keeps its
    // re-land source across a maintenance pass
    Seq(mainLog -> "main", qLog -> "quarantine").foreach {
      case (log, sub) =>
        sinkMaintain(spark, log, root, s"$root/$sub/m$bid", "event_id",
          st19Schema, s"maintain@$bid", maxFiles)
    }
  }

  /** The per-(dest, reason) aggregate over both maintained tables'
    * live snapshots — io15's serving core, shared.
    */
  private[graft] def st19Serve(
      spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    graft.sources.Io.quarantineServe(spark,
      graft.sources.TableLog.open(s"$root/main"),
      graft.sources.TableLog.open(s"$root/quarantine"),
      st19Schema, "event_id", "value", "total_value", "min_id", "max_id")

  // ----------------------------------------------------------------
  // st18: CDC FOLLOW — a downstream mirror maintained from the
  // commit log, version by version
  // ----------------------------------------------------------------

  /** st18: INCREMENTAL CDC FOLLOW — the consumption half of io8's
    * change feed: a downstream MIRROR table maintained from
    * [[graft.sources.TableLog]]'s commit history version by version
    * (Delta's "streaming CDF source → MERGE sink" deployment shape).
    * The follower persists a CURSOR (last applied version); each step
    * row-diffs snapshot v−1 → v (io8's insert/update/delete
    * classification, carrying the full new-side row) and applies the
    * change set with ONE key-partitioned merge: changed keys leave
    * the mirror via an anti-join, the new side of inserts/updates
    * unions back in. Re-applying a version is structurally
    * idempotent, and each merge publishes through the follower
    * root's own rewrite log ([[commitStateRewrite]], tagged with the
    * applied version) — a crash between the merge commit and the
    * cursor write heals on retry by advancing the cursor past the
    * already-committed tag, never re-merging; a version at-or-under
    * the cursor is a no-op. Serving aggregates the MIRROR,
    * which after following to the head must equal the source's live
    * snapshot — io11's oracle verbatim, computed WITHOUT ever
    * scanning the source at serve time.
    *
    * Scale: the diff reads ONLY the files that entered or left the
    * snapshot between v−1 and v (the log's file lists name them —
    * unchanged files are shared by identity and never read): a
    * pure-append version costs exactly its appended files, a
    * copy-on-write rewrite its rewritten set. The apply join is
    * keyed by the primary key with a change-sized build side, and
    * the mirror rewrite is copy-on-write (io12's bin-packing applies
    * to the mirror as to any lake table). Resume replays nothing
    * version-count-sized: the cursor seeks straight to the first
    * unapplied version.
    */
  def st18StreamCdcFollow(t: Tables): DataFrame = {
    val spark = t.spark
    val log = graft.sources.Io.ordersLog(t)
    val root = graft.Staging.dir(s"${t.dir}:st18", "st18") { d =>
      st18FollowTo(spark, d, log, log.latestVersion.getOrElse(-1L))
    }
    graft.sources.Io.statusAgg(st18Mirror(spark, root))
  }

  /** Follow the log up to and including version `v`: the starting
    * point is computed from ONE cursor read, so already-applied
    * versions cost nothing — not even a meta read. Each APPLIED step
    * still re-checks the cursor itself: that per-step guard is the
    * redelivery/torn-cursor heal (drilled by direct step calls) and
    * must not be optimized away against this seek.
    */
  private[graft] def st18FollowTo(
      spark: org.apache.spark.sql.SparkSession, root: String,
      log: graft.sources.TableLog, v: Long,
      schema: org.apache.spark.sql.types.StructType =
        graft.sources.Io.ordersSchema,
      keyCol: String = "o_orderkey"): Unit = {
    val cursor = graft.Fs.read(s"$root/cursor.meta").map(_.trim.toLong)
      .getOrElse(-1L)
    ((cursor + 1L) to v).foreach(u =>
      st18FollowStep(spark, root, log, u, schema, keyCol))
  }

  /** The follower's mirror table — read from the generation the
    * follower root's OWN rewrite log serves (a torn merge is an
    * unreferenced generation dir, invisible here and swept by the
    * next committed step).
    */
  private[graft] def st18Mirror(
      spark: org.apache.spark.sql.SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType =
        graft.sources.Io.ordersSchema): DataFrame =
    st18MirrorState(spark, root, schema).read("mirror")

  private def st18MirrorState(spark: org.apache.spark.sql.SparkSession,
      root: String, schema: org.apache.spark.sql.types.StructType) =
    StateTable.resolve(spark, root, StateTable.Family("st18", Seq(
      StateTable.Spec("mirror", schema, StateTable.Flat,
        StateTable.Coalesce))))

  /** ONE follow step: diff snapshots v−1 → v from the log, merge the
    * change set into the mirror, advance the cursor. Idempotent under
    * redelivery (cursor) and under re-application after a crash (the
    * anti-join + union is a set overwrite of exactly the changed
    * keys).
    */
  private[graft] def st18FollowStep(
      spark: org.apache.spark.sql.SparkSession, root: String,
      log: graft.sources.TableLog, v: Long,
      schema: org.apache.spark.sql.types.StructType =
        graft.sources.Io.ordersSchema,
      keyCol: String = "o_orderkey"): Unit = {
    val cursor = graft.Fs.read(s"$root/cursor.meta").map(_.trim.toLong)
      .getOrElse(-1L)
    if (v <= cursor) return
    val cols = schema.fieldNames.toSeq
    def sided(df: DataFrame, side: String) =
      df.select(col(keyCol).as("k"),
        struct(cols.map(col): _*).as(side))
    // FILE-LEVEL delta (the commit log's whole point): commit v's
    // OWN actions ARE the delta — its Add paths entered the
    // snapshot, its Remove paths left it (writers only remove live
    // paths, adds are path-unique). No snapshot replay at all:
    // planning a step is O(that commit's actions), so following V
    // versions costs O(total actions), not O(V·history). A
    // pure-append version reads exactly the appended files; a
    // copy-on-write rewrite reads the rewritten set; rows that ride
    // a rewrite unchanged appear equal on both sides and drop in
    // the filter below.
    val delta = log.actions(v)
    val added = delta.collect {
      case graft.sources.TableLog.Add(f) => f.path }
    val removed = delta.collect {
      case graft.sources.TableLog.Remove(p) => p }
    def readFiles(paths: Seq[String]) =
      if (paths.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(paths: _*)
    val changes = graft.Caches.materialized(
      sided(readFiles(removed), "o")
        .join(sided(readFiles(added), "n"), Seq("k"), "full")
        .filter(col("o").isNull || col("n").isNull || col("o") =!= col("n")))
    val upserts = changes.filter(col("n").isNotNull).select(col("n.*"))
    val changedKeys = changes.select(col("k").as(keyCol))
    val tag = s"mirror@$v"
    // a crash between a prior try's commit and its cursor persist:
    // the merge is already served — heal the cursor, never re-merge
    if (!tagCommitted(stateLog(root), tag)) {
      val mirror = st18MirrorState(spark, root, schema)
      mirror.rewrite(_ => tag)(Seq("mirror" -> mirror.read("mirror")
        .join(changedKeys, Seq(keyCol), "left_anti")
        .unionByName(upserts)))
    }
    graft.Caches.drop(changes)
    graft.Fs.writeAtomic(s"$root/cursor.meta", v.toString)
  }

  // ----------------------------------------------------------------
  // st15: incremental VECTOR-index (IVF) maintenance
  // ----------------------------------------------------------------

  /** st15: INCREMENTAL VECTOR-INDEX MAINTENANCE — the ANN leg of the
    * maintained-index triad (st13 groups, st14 text index, st15
    * vector index): embeddings arrive as a stream and the IVF index
    * batch s3 serves from is MAINTAINED, never rebuilt. The coarse
    * codebook is PINNED — trained offline on the corpus snapshot
    * (st11's model contract: retraining = a new model version, never
    * mid-stream), so per-batch work is ONE compiled projection
    * (CentroidRanks against the codebook constant — no join, no
    * Exchange) plus a list-partitioned append.
    *
    * State = one table: `vectors(vec_id, v)` PARTITIONED by `cid`,
    * the assigned coarse list — the natural IVF layout (a list IS a
    * partition). Serving ([[st15Serve]]): the query vector ranks the
    * codebook (a driver-side model-constant computation, replayed
    * through the same compiled expression so ranking is bit-identical
    * to batch), then reads ONLY its `nProbe` nearest lists
    * (partition-PRUNED, spec-locked) and exact-cosine-ranks them —
    * batch s3's arithmetic verbatim. Pinned codebook + disjoint
    * arrivals ⇒ maintained assignments = batch `assignedVecs`
    * row-for-row ⇒ s3's full k-means-replay oracle applies VERBATIM;
    * the spec asserts bit-equality with the batch operator.
    *
    * Small-file buildup compacts past a file budget
    * ([[StateTable.maybeCompact]]); the state root is a resume-able
    * parameter.
    */
  def st15StreamAnnMaintain(t: Tables, probeId: Long = 0L,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    val spark = t.spark
    val path = s"${t.dir}/embeddings.parquet"
    val schema = spark.read.parquet(path).schema
    graft.Caches.fresh()
    val cb = graft.operators.Ann.assignedVecs(t, nLists)._2
    val state = StateTable.open(spark, st15Family)
    val vecs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = vecs.writeStream
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        st15MaintainStep(state, cb, batch.toDF(), bid)
      }
      .start()
    q.processAllAvailable(); q.stop()
    // the probe vector is looked up once (pushed-filter point read of
    // the source table — the query side owns its vector at serving
    // time); ranking/scoring run against the maintained state only
    val pv = spark.read.parquet(path)
      .filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("v"))
      .collect()(0).getSeq[Double](0)
    st15Serve(state, cb, pv, nProbe, k = 10, excludeId = Some(probeId))
  }

  /** st15's state: one list-partitioned table. Compaction is the
    * rewrite-commit flip alone — a list is already the serving read
    * unit, so no within-list sort is needed (serving exact-scans whole
    * lists).
    */
  private[graft] val st15Family: StateTable.Family =
    StateTable.Family("st15", Seq(StateTable.Spec("vectors",
      st15VecSchema, StateTable.ByList, StateTable.SortedRewrite)))

  private[graft] def st15VecSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))

  /** The persisted IVF model for a durable st15 root: a RESUMED
    * session must assign and serve under the SAME pinned codebook
    * the writer used — vectors are partitioned by ITS list ids, and
    * a retrained model (even off one extra training row) assigns
    * differently, silently breaking both the pruned serving reads
    * and the redelivery guard. Doubles round-trip as raw long bits,
    * so the loaded model is bit-identical; the write is
    * tmp + atomic-move (the nbuckets.meta contract).
    */
  private[graft] def saveCodebook(root: String,
      cb: graft.expressions.PlaneMatrix): Unit =
    saveModel(s"$root/codebook.meta", Seq(cb.dim), cb.values)

  private[graft] def loadCodebook(
      root: String): Option[graft.expressions.PlaneMatrix] =
    codebookAt(graft.operators.Pipeline.codebookPath(root))

  /** The codebook in the model file at `path`, if it exists. */
  private[graft] def codebookAt(
      path: String): Option[graft.expressions.PlaneMatrix] =
    loadModel(path).map { case (h, v) =>
      new graft.expressions.PlaneMatrix(v, h.head)
    }

  /** The one codec of graft's persisted float models (the codebook
    * above, the sq8/pq tier models): a line of space-separated int
    * header fields, then each Double's raw long bits, one per line.
    */
  private[graft] def saveModel(path: String, header: Seq[Int],
      values: Array[Double]): Unit = {
    val sb = new StringBuilder
    sb.append(header.mkString(" ")).append('\n')
    values.foreach(v =>
      sb.append(java.lang.Double.doubleToLongBits(v)).append('\n'))
    graft.Fs.writeAtomic(path, sb.toString)
  }

  private[graft] def loadModel(
      path: String): Option[(Seq[Int], Array[Double])] =
    graft.Fs.read(path).map { s =>
      val lines = s.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      (lines.head.split(" ").toSeq.map(_.toInt),
        lines.tail.map(l => java.lang.Double.longBitsToDouble(l.toLong)).toArray)
    }

  /** ONE maintenance step: assign the ARRIVING (vec_id, v) rows to
    * their nearest coarse list — a compiled projection against the
    * pinned codebook, batch `assignedVecs`'s expression verbatim —
    * and append list-partitioned through the one tagged batch append
    * ([[StateTable.appendBatch]]: a committed `bid` is a no-op, a
    * retried one wipes its remnants first). All work is arrivals-sized.
    *
    * AT-LEAST-ONCE REDELIVERY GUARD (st14's contract): a redelivered
    * vector lands in the SAME list (the pinned codebook makes
    * assignment deterministic), so an anti-join against the state
    * pruned to the batch's assigned lists — arrivals-sized, ≤ nLists
    * partitions read — drops duplicates a fresh-id retry would append.
    */
  private[graft] def st15MaintainStep(st: StateTable,
      cb: graft.expressions.PlaneMatrix, batch: DataFrame,
      bid: Long = -1L): Unit =
    st.appendBatch(bid) {
      val assigned = graft.Caches.materialized(batch
        .select(col("vec_id"), col("v"),
          graft.functions.Vectors.centroidTop1(col("v"), cb)
            .as("cid")))
      val arrCids = assigned.select("cid").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val seen = st15ListProbe(st, arrCids).select("vec_id")
      (Seq("vectors" -> assigned.join(seen, Seq("vec_id"), "left_anti")),
        Seq(assigned))
    }

  /** The pruned list scan a query reads — factored out for the
    * plan-lock spec (PartitionFilters on cid).
    */
  private[graft] def st15ListProbe(st: StateTable,
      cids: Seq[Int]): DataFrame =
    st.read("vectors").filter(col("cid").isin(cids: _*))

  /** Exact-cosine top-k over the query's `nProbe` nearest lists —
    * batch s3's serving arithmetic (round(·,4), (cos desc, vec_id)
    * top-k) with the list read partition-PRUNED. The query vector
    * ranks the codebook through the SAME compiled expression the
    * writer used (a one-row driver-bounded job, ≤ nProbe ints), so
    * probe-list choice is bit-identical to batch.
    */
  private[graft] def st15Serve(st: StateTable,
      cb: graft.expressions.PlaneMatrix, queryVec: Seq[Double],
      nProbe: Int, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val spark = st.spark
    import spark.implicits._
    val pvCol = typedLit(queryVec)
    val probeCids = Seq(Tuple1(queryVec)).toDF("v")
      .select(explode(slice(
        graft.functions.Vectors.centroidRanks(col("v"), cb), 1, nProbe))
        .as("cid"))
      .collect().map(_.getInt(0)).toSeq.sorted
    val scanned = st15ListProbe(st, probeCids)
    val base = excludeId match {
      case Some(id) => scanned.filter(col("vec_id") =!= id)
      case None     => scanned
    }
    base
      .select(col("vec_id"),
        round(graft.functions.Vectors.cosine(col("v"), pvCol), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** st17: RECALL GATE OVER THE MAINTAINED VECTOR INDEX — s8
    * measures batch s3's serving path, but its own use case ("re-run
    * after every rebuild to catch codebook drift") belongs to the
    * MAINTAINED index: this operator ingests the corpus through
    * st15's maintenance steps (two disjoint batches — the
    * exactly-once arrival pattern) and measures recall@k of
    * [[st15Serve]] ITSELF — per probe, the pinned-codebook ranking
    * plus the cid-pruned list read a deployment actually serves —
    * against the exact brute-force ground truth. Pinned codebook +
    * exactly-once arrivals ⇒ maintained serving ≡ batch s3 serving ⇒
    * the measurement equals s8, so s8's full-replay oracle applies
    * VERBATIM; the drift drill (AnnStreamSpec) shows the gate
    * DEGRADES under a mismatched serving codebook — detecting
    * exactly what it exists to detect.
    *
    * Scale: the probe set is a bounded sample (8 here, ~1k by hash
    * in production) — the exact tower is per-probe brute force
    * because that is what ground truth means; the approx tower costs
    * nProbes pruned serves.
    */
  def st17AnnRecallMaintain(t: Tables, nProbes: Int = 8, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    val spark = t.spark
    graft.Caches.fresh()
    val cb = graft.operators.Ann.assignedVecs(t, nLists)._2
    val state = StateTable.open(spark, st15Family)
    val vecs = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    st15MaintainStep(state, cb, vecs.filter(col("vec_id") % 2 === 0))
    st15MaintainStep(state, cb, vecs.filter(col("vec_id") % 2 === 1))
    st17RecallFrom(state, cb, vecs, nProbes, k, nProbe)
  }

  /** The measurement half of st17, factored so the drift drill can
    * run it under a DIFFERENT serving codebook than the writer's:
    * exact per-probe brute force (s8's arithmetic verbatim) joined
    * against nProbes [[st15Serve]] reads.
    */
  private[graft] def st17RecallFrom(st: StateTable,
      serveCb: graft.expressions.PlaneMatrix, vecs: DataFrame,
      nProbes: Int, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = vecs.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("pid"), col("v").as("pv"))
    val w = Window.partitionBy("pid")
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = vecs.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        round(graft.functions.Vectors.cosine(col("v"), col("pv")), 4)
          .as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("pid", "vec_id")
    // ≤ nProbes rows — the bounded probe sample, collected so each
    // probe drives ITS OWN pruned serving read (the path under test)
    val probeRows = probes.collect()
    // no probes (nProbes ≤ 0, or ids not starting near 0) → an empty
    // recall frame, not an empty-reduce crash
    if (probeRows.isEmpty)
      return vecs.select(col("vec_id").as("probe_id"),
        lit(0L).as("n_hit"), lit(0.0).as("recall")).limit(0)
    val approx = probeRows.map { r =>
      val pid = r.getLong(0)
      val pv = r.getSeq[Double](1)
      st15Serve(st, serveCb, pv, nProbe, k, excludeId = Some(pid))
        .select(lit(pid).as("a_pid"), col("vec_id").as("a_id"))
    }.reduce(_ unionByName _)
    exact.join(approx,
        col("pid") === col("a_pid") && col("vec_id") === col("a_id"),
        "left")
      .groupBy(col("pid").as("probe_id"))
      .agg(count(col("a_id")).as("n_hit"))
      .withColumn("recall",
        floor(col("n_hit") / k * 10000 + 0.5) / 10000.0)
      .select("probe_id", "n_hit", "recall")
      .orderBy("probe_id")
  }

  // ----------------------------------------------------------------
  // st20: model-version MIGRATION for the maintained vector index
  // ----------------------------------------------------------------

  /** st20: MODEL-VERSION MIGRATION — the remediation st17's drift
    * gate calls for: the maintained index was encoded under a model
    * trained on a PAST corpus snapshot (v1's codebook here trains on
    * two-thirds of the rows — the drill's drift shape), the corpus
    * drifted, and the retrained model CANNOT be swapped in place
    * (st11/st15's pinned-model contract: vectors are partitioned by
    * the old model's list ids — serving under the new one silently
    * breaks the pruned reads, which is exactly what st17 detects).
    * The cutover: train model v2 OFFLINE on the current corpus,
    * RE-ENCODE the old root's vectors under it in ONE corpus pass
    * (read every list, re-assign, land list-partitioned in a NEW
    * root with its codebook persisted), then ATOMICALLY flip the
    * serving pointer and vacuum the old root. Readers see v1's
    * consistent serving until the flip, v2's after — never a torn
    * index. AnnStreamSpec drills the full arc: recall degraded under
    * drift is RESTORED post-migration to batch s8's level, with
    * serving answers gated before (batch-twin bit-equality) and
    * after (s3's DuckDB oracle — this operator's gate).
    *
    * Scale: the migration pays ONE read+shuffle+write pass over the
    * index (the minimum any re-encode costs); training is offline
    * (sampled at lake scale — trainCodebookSampled); the pointer
    * flip is one atomic metadata move, so the swap is instant
    * however large the index; the old root's bytes free at vacuum.
    * Crash order: pointer LAST — a crash mid-migration leaves v1
    * serving and a partial v2 the re-run overwrites; a crash AFTER
    * the flip leaves only the retired root on disk, and a re-run
    * (same target) completes the vacuum instead of failing — the
    * pointer is the migration's commit point.
    */
  def st20AnnMigrate(t: Tables, nLists: Int = 16, nProbe: Int = 2,
      probeId: Long = 0L): DataFrame = {
    val spark = t.spark
    graft.Caches.fresh()
    val parent = graft.Staging.dir(s"${t.dir}:st20", "st20") { d =>
      val vecs = t.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // v1 era: the codebook trained on a PAST snapshot (the drift
      // drill's shape), the full drifted corpus since ingested. The
      // stale model rides the SAMPLED offline path (the facade's
      // default) — the operator's gate depends only on the v2 model,
      // so the v1 stand-in need not pay full Lloyd's
      val past = vecs.filter(col("vec_id") % 3 =!= 0)
      val cbOld = graft.operators.Ann.trainCodebookSampled(
        past, nLists, past.count())
      val st1 = StateTable.open(spark, st15Family, Some(s"$d/v1"))
      saveCodebook(st1.root, cbOld)
      st15MaintainStep(st1, cbOld, vecs.filter(col("vec_id") % 2 === 0))
      st15MaintainStep(st1, cbOld, vecs.filter(col("vec_id") % 2 === 1))
      graft.Fs.writeAtomic(s"$d/current.meta", "v1")
      // drift detected (st17's gate) → cut over to the retrained model
      val cbNew = graft.operators.Ann.assignedVecs(t, nLists)._2
      st20Migrate(spark, d, "v2", cbNew)
    }
    val (st, cb) = st20Serving(spark, parent)
    val pv = t.embeddings.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>").as("v"))
      .collect()(0).getSeq[Double](0)
    st15Serve(st, cb, pv, nProbe, k = 10, excludeId = Some(probeId))
  }

  /** The cutover itself: one-pass re-encode of the CURRENT serving
    * root's vectors under `cbNew` into `$parent/$toSub`, codebook
    * persisted beside them, pointer flipped atomically, old root
    * vacuumed. See [[st20AnnMigrate]] for the crash order.
    */
  private[graft] def st20Migrate(
      spark: org.apache.spark.sql.SparkSession, parent: String,
      toSub: String, cbNew: graft.expressions.PlaneMatrix): Unit = {
    val fromSub = graft.Fs.read(s"$parent/current.meta").map(_.trim)
      .getOrElse(sys.error(s"st20Migrate: no serving index under $parent"))
    if (fromSub == toSub) {
      // RE-RUN AFTER A CRASH between the pointer flip and the old
      // root's vacuum: the cutover already happened (the pointer IS
      // the migration's commit point), so complete the cleanup —
      // under the pointer contract every non-serving subroot is dead
      vacuumRetiredRoots(parent, toSub)
      return
    }
    val from = StateTable.open(spark, st15Family, Some(s"$parent/$fromSub"))
    val to = StateTable.open(spark, st15Family, Some(s"$parent/$toSub"))
    from.read("vectors")
      .select(col("vec_id"), col("v"),
        graft.functions.Vectors.centroidTop1(col("v"), cbNew)
          .as("cid"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(to.dir("vectors"))
    saveCodebook(to.root, cbNew)
    // the atomic cutover: readers resolve the pointer at open. NEW
    // opens see v2 from here; a reader that opened v1 BEFORE the
    // flip must drain before the vacuum below reclaims it — at
    // production scale the delete is deferred by a retention window
    // (TableLog.vacuum's posture); in this single-writer harness the
    // serving reads are synchronous, so immediate vacuum is safe
    graft.Fs.writeAtomic(s"$parent/current.meta", toSub)
    vacuumRetiredRoots(parent, toSub)
  }

  /** Delete every subroot under `parent` except the serving one —
    * the pointer contract makes them dead; idempotent (a re-run
    * finds nothing left).
    */
  private def vacuumRetiredRoots(parent: String, serving: String): Unit =
    graft.Fs.list(parent).filter(d => d.isDir && d.name != serving)
      .foreach(d => graft.Fs.deleteTree(d.path))

  /** Resolve the serving index under a migration parent: the pointer
    * names the active subroot, whose persisted codebook is THE model
    * (never a retrain — the [[st20AnnMigrate]] contract).
    */
  private[graft] def st20Serving(
      spark: org.apache.spark.sql.SparkSession,
      parent: String): (StateTable, graft.expressions.PlaneMatrix) = {
    val sub = graft.Fs.read(s"$parent/current.meta").map(_.trim)
      .getOrElse(sys.error(s"st20Serving: no serving index under $parent"))
    val st = StateTable.open(spark, st15Family, Some(s"$parent/$sub"))
    (st, loadCodebook(st.root).getOrElse(
      sys.error(s"st20Serving: serving root ${st.root} has no codebook")))
  }

  /** st23: STREAMING EMBEDDING ENCODE — e1's batched inference pass
    * at the sink: arriving documents encode through the SAME
    * mapPartitions batch client under the PINNED model version
    * (st11's contract applied to the encoder — the model never
    * changes mid-stream; retraining is a new version via st20's
    * migration). Pure stateless per-batch projection: no state
    * store, no join, nothing grows — the shape a production
    * embedding-at-ingest pass has. Emissions are arrival-order- and
    * batch-boundary-independent (e1's stub is a per-record pure
    * function) ⇒ batch e1's oracle gates the stream output verbatim.
    */
  def st23StreamEmbed(t: Tables, batchSize: Int = 32): DataFrame = {
    val spark = t.spark
    val name = s"st23_sink_${ctr.incrementAndGet()}"
    val path = s"${t.dir}/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(t, path, "doc_id"))
      .select("doc_id", "text")
    val q = graft.operators.Embed
      .encodeFrame(docs, "doc_id", "text", batchSize)
      .select(col("vec_id"), col("model"),
        lit(graft.operators.Embed.dim).as("n_dim"),
        col("u_sum"), col("u_md5"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name).orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // st24: STREAMING ARCHIVE INGEST — r21's walk at the sink
  // ------------------------------------------------------------------

  private[graft] val st24Schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "filepath STRING, action STRING, n_chars BIGINT, chk BIGINT")

  /** ONE st24 sink step: the micro-batch's archives (binaryFile
    * rows) expand through r21's own walker ([[graft.operators.Ingest
    * .entriesOf]] — skip-before-read, UTF-8 decode), classify
    * through r1's trees, and the per-entry classified rows land as
    * ONE tagged commit (`b@<bid>` — txn-watermarked). Redelivery of
    * a committed batch is a structural no-op; archives are the unit
    * of both arrival and parallelism, so every entry lands exactly
    * once however the fleet is batched.
    */
  private[graft] def st24Step(
      spark: org.apache.spark.sql.SparkSession, tableRoot: String,
      batch: DataFrame, bid: Long): Unit = {
    val log = graft.sources.TableLog.open(tableRoot)
    val tag = s"b@$bid"
    if (tagCommitted(log, tag)) return
    val dir = s"$tableRoot/b$bid"
    graft.operators.Ingest
      .classifiedEntries(graft.operators.Ingest.entriesOf(batch))
      .write.mode("overwrite").parquet(dir)
    val v = graft.sources.TableLog.commitDir(spark, log, dir, "chk",
      st24Schema, tag)
    // st16's checkpoint cadence: every 8 batches the log collapses
    // its replay AND the txn watermark folds the accumulated b@ tags
    // to one row — without this the watermark never engages and
    // tagVersion's per-batch probe replays O(drops) commit files
    if ((v + 1) % 8 == 0) log.checkpoint()
    ()
  }

  /** st24's staged run: r21's archive fleet replayed as a STREAM
    * (one zip per micro-batch — the continuous-crawl-drop shape),
    * each batch landing through [[st24Step]].
    */
  private[graft] def st24Root(t: Tables): String =
    graft.Staging.dir(s"${t.dir}:st24", "st24") { d =>
      val spark = t.spark
      val fleet = graft.operators.Ingest.zipRoot(t)
      val schema = spark.read.format("binaryFile")
        .load(s"$fleet/*.zip").schema
      val q = spark.readStream.format("binaryFile").schema(schema)
        .option("maxFilesPerTrigger", "2")
        .load(s"$fleet/*.zip")
        .writeStream
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          st24Step(spark, s"$d/table", batch.toDF(), bid)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }

  /** st24: STREAMING ARCHIVE INGEST — the reference's repo-zip walk
    * (prepare_data.py:39-69) as a CONTINUOUS ingest: archives arrive
    * as files (the crawl-drop delivery every large-scale corpus
    * uses), each micro-batch expands its archives through r21's own
    * walker and lands the classified entries batch-atomically
    * (tagged TableLog commits — redelivery no-ops, the txn watermark
    * bounds the tag index as drops accumulate). The gated answer is
    * the accumulated per-class walk report — r21's columns, r21's
    * ORACLE VERBATIM, because the report is additive over entries
    * once each archive lands exactly once.
    *
    * Scale: an archive never splits across batches (binaryFile is
    * file-granular), so the walk is embarrassingly parallel within a
    * batch and exactly-once across them; the landed table grows with
    * ENTRIES, the per-batch commit is one metadata append, and the
    * report aggregate is the only corpus-wide pass.
    */
  def st24StreamZipIngest(t: Tables): DataFrame = {
    val spark = t.spark
    val root = s"${st24Root(t)}/table"
    val log = graft.sources.TableLog.open(root)
    graft.operators.Ingest.classReport(
      log.read(spark, st24Schema, log.latestVersion.getOrElse(-1L)))
  }

  // ------------------------------------------------------------------
  // st25: CONTINUOUS FORGETTING — p5's delete path at the sink
  // ------------------------------------------------------------------

  /** st25's staged run: clone the built fixture root (the shared
    * memoized index is never mutated), stage the forget requests as
    * one parquet file per wave with ascending mtimes (the file
    * source replays them oldest first — st24's crawl-drop delivery,
    * here carrying deletion requests), and stream each wave through
    * [[graft.operators.Pipeline.removeFromTowers]].
    */
  private[graft] def st25Root(t: Tables): String =
    graft.Staging.dir(s"${t.dir}:st25forget", "st25") { d =>
      val spark = t.spark
      val idx = s"$d/index"
      graft.operators.Pipeline.cloneRoot(spark,
        graft.operators.Pipeline.ragRoot(t), idx)
      val victims = graft.operators.Pipeline.snapshotOf(idx)
        .read(spark, "routed")
        .filter(col("doc_id") % 5 === 1).select("doc_id")
      val mm = victims.agg(min("doc_id"), max("doc_id")).collect()(0)
      // explicit gate precondition (p5's require, not an opaque NPE
      // from getLong on the null min/max of an empty victim set)
      require(!mm.isNullAt(0),
        "st25 gate expects doc_id % 5 == 1 victims in the cloned " +
          "fixture — got none")
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      // two waves: the continuous shape (multi-batch, ascending)
      // at half the gate cost — each wave's rewrite is corpus-sized
      // here because the victims span every bucket/list (a 20%
      // random delete affects all partitions; pruning pays off when
      // deletes are few), so wave count is the gate's cost knob
      val width = (hi - lo) / 2 + 1
      val reqDir = s"$d/requests"
      (0 until 2).foreach { w =>
        // Staging.scratch registers the wave dir with the shutdown
        // cleanup hook (leftover part files reclaimed)
        val out = graft.Staging.scratch(s"st25_wave$w")
        victims.filter(col("doc_id") >= lo + w * width &&
            col("doc_id") < lo + (w + 1) * width)
          .coalesce(1).write.mode("overwrite").parquet(out)
        landPart(out, s"$reqDir/${w}_forget.parquet", 2 - w)
      }
      val q = spark.readStream
        .schema("doc_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(reqDir)
        .writeStream
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          graft.operators.Pipeline
            .removeFromTowers(spark, idx, batch.toDF())
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }

  /** st25: CONTINUOUS FORGETTING — the index-delete path
    * ([[graft.operators.Pipeline.removeFromTowers]], p5's operator)
    * driven by a STREAM of deletion requests (the GDPR/right-to-be-
    * forgotten delivery: erasure arrives continuously, the serving
    * index must converge to the never-deleted corpus). Each
    * micro-batch's ids drop from every staged tower — partition-
    * pruned rewrites of the serving layouts, exact-integer stats/idf
    * decrements under the pinned codebook — and the gated answer
    * serves the standard query from the final towers.
    *
    * Exactly-once is STRUCTURAL here: set difference commutes and
    * re-removing an absent id is a no-op (the anti-join semantics),
    * so redelivered or reordered request waves converge to the same
    * towers — no tag machinery needed, unlike the append-side sinks
    * (st16/st22/st24) where redelivery would duplicate rows. The
    * ORACLE replays the whole build over `documents` minus the
    * victims: the stream's final state must equal a rebuild that
    * never saw them.
    *
    * Scale: each wave's cost is (affected partitions + flat-artifact
    * rewrite), not corpus; a deployment batches erasure requests into
    * waves exactly like this (deletes are rare relative to serving,
    * so the wave cadence — not per-request rewrites — is the knob).
    */
  def st25IndexForget(t: Tables): DataFrame = {
    val spark = t.spark
    val idx = s"${st25Root(t)}/index"
    graft.operators.Pipeline.serveStandard(spark, idx, 5)
  }

  // ------------------------------------------------------------------
  // st22: STREAMING CURATION — p1's funnel at the sink
  // ------------------------------------------------------------------

  /** The four TableLog destinations one st22 batch commits, all
    * tagged `b<bid>`: survivors (the curated set), per-stage
    * attrition stats, and the two dedup-key registries the
    * cross-batch stages consult. A torn batch (crash between logs)
    * HEALS on redelivery — each log skips only its own committed
    * part (io16/st19's multi-destination contract).
    */
  private[graft] case class St22Roots(root: String) {
    val main: String = s"$root/main"
    val stats: String = s"$root/stats"
    val md5s: String = s"$root/state_md5"
    val fps: String = s"$root/state_fp"
    def logs: Seq[graft.sources.TableLog] =
      Seq(main, stats, md5s, fps).map(graft.sources.TableLog.open)
  }

  private[graft] val st22MainSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, n_bpe INT, q_score DOUBLE")
  private[graft] val st22StatsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "ord BIGINT, stage STRING, n_out BIGINT, toks_out BIGINT")
  private[graft] val st22KeySchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, key STRING")

  /** ONE st22 sink step: the arriving batch runs p1's funnel — t2
    * quality cut, t1 language filter, exact dedup (in-batch keep-min
    * + anti-join against the COMMITTED md5 registry), t4 near dedup
    * (same, fingerprint registry), d7 decontamination against the
    * PINNED bench shingle frame — then survivors, the batch's
    * per-stage attrition rows, and the two registry deltas land as
    * tagged commits. Cross-batch keep-min-id equals batch p1's
    * because arrivals are doc_id-ascending (the staged split): the
    * min-id member of any dup group arrives first and registers its
    * key before any later member probes it.
    *
    * Scale: every state probe is an arrivals×registry equi-join
    * (broadcast-able batch side); registries grow with DISTINCT
    * keys, not arrivals; the bench side is the pinned eval-suite
    * broadcast; nothing corpus-wide runs inline.
    */
  private[graft] def st22Step(
      spark: org.apache.spark.sql.SparkSession, roots: St22Roots,
      bench: DataFrame, batch: DataFrame, bid: Long,
      qualityMin: Double = 0.35, k: Int = 5,
      benchMod: Long = 97): Unit = {
    import org.apache.spark.sql.expressions.Window
    val tag = s"b@$bid"
    val Seq(mainLog, statsLog, md5Log, fpLog) = roots.logs
    if (Seq(mainLog, statsLog, md5Log, fpLog)
        .forall(tagCommitted(_, tag))) return
    val scored = graft.operators.Pipeline
      .scoredProjection(batch, k).persist()
    // ASCENDING-ARRIVAL GUARD: the cross-batch keep-min-id contract
    // (registry keys always belong to smaller ids than any arrival)
    // is a DELIVERY assumption — Spark's file source orders batches
    // by modification time then path, which is observed, not
    // contractual. So every step PROVES it before committing: the
    // batch's min doc_id must exceed the high-water id of everything
    // previously registered, else fail loudly (the silent
    // alternative keeps a non-min group member). The mark rides a
    // meta file keyed by batch tag so a torn RETRY of batch `bid`
    // re-checks against the PRE-batch mark it recorded, not the one
    // it advanced.
    // a registry is probed AS OF BEFORE this batch: a torn retry
    // whose registry side already committed (tag present) must not
    // see its OWN keys, or the recomputed stages read as fully
    // deduped and the healed stats side lands zeros — the retry has
    // to reproduce the original batch's state view exactly
    def stateBefore(log: graft.sources.TableLog): DataFrame =
      log.read(spark, st22KeySchema,
        log.tagVersion(tag).map(_ - 1)
          // legacy-shape torn retry: the registry side committed
          // under the pre-round-14 tag — still read as-of-before it
          .orElse(log.tagVersion(tag.replace("@", "")).map(_ - 1))
          .orElse(log.latestVersion).getOrElse(-1L))
    try {
      val bounds = scored
        .agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      if (!bounds.isNullAt(0)) {
        val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
        val (hwTag, hwBefore, hwAfter) =
          graft.Fs.read(s"${roots.root}/hw.meta").map { s =>
            val Array(t, b, a) = s.trim.split(":", 3)
            (t, b.toLong, a.toLong)
          }.getOrElse(("", Long.MinValue, Long.MinValue))
        val floor = if (hwTag == tag) hwBefore else hwAfter
        require(mn > floor,
          s"st22: non-ascending arrival (batch $tag min doc_id $mn <= " +
            s"registered high-water $floor) violates the keep-min-id " +
            "registry contract — deliver batches in ascending doc_id " +
            "order (re-stage the source ordered)")
        graft.Fs.writeAtomic(s"${roots.root}/hw.meta",
          s"$tag:$floor:${math.max(floor, mx)}")
      }
      val s1 = scored.filter(
        graft.operators.Pipeline.qualityPass(qualityMin))
      val s2 = s1.filter(graft.operators.Pipeline.langPass)
      // exact dedup: committed registry first (state keys all carry
      // smaller ids than any arrival — ascending delivery), then the
      // in-batch keep-min window
      val seenMd5 = stateBefore(md5Log).select("key")
      val s2k = s2.withColumn("key", md5(col("text")))
      val s3 = s2k.join(seenMd5, Seq("key"), "left_anti")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("key")).orderBy(col("doc_id"))))
        .filter(col("rk") === 1).drop("rk")
      // near dedup: fingerprint registry over exact survivors;
      // fingerprint-less docs bypass and never register
      val seenFp = stateBefore(fpLog).select(col("key").as("fp"))
      val s3f = s3.drop("key")
        .withColumn("fp", graft.operators.Pipeline.fingerprintCol)
      val s4 = s3f.filter(col("fp").isNull)
        .unionByName(s3f.filter(col("fp").isNotNull)
          .join(seenFp, Seq("fp"), "left_anti")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rk") === 1).drop("rk"))
      // decontamination: d7's contract against the PINNED bench set
      val contaminated = scored
        .filter(col("doc_id") % benchMod =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("s5"))
        .join(graft.Guards.sizedBroadcast(bench), "s5")
        .select("doc_id").distinct()
      val s5 = s4.filter(col("doc_id") % benchMod =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // land all four destinations, each tag-idempotent
      def landKeys(log: graft.sources.TableLog, dir: String,
          keys: DataFrame): Unit =
        if (!tagCommitted(log, tag)) {
          keys.select(xxhash64(col("key")).as("k"), col("key"))
            .write.mode("overwrite").parquet(dir)
          graft.sources.TableLog.commitDir(spark, log, dir, "k",
            st22KeySchema, tag)
          ()
        }
      // the four destinations are INDEPENDENT given the persisted
      // scored frame and the as-of-before registry reads (distinct
      // logs, distinct dirs) — land them as CONCURRENT jobs (guide
      // §2.6, st13's append pattern). The torn-batch heal contract is
      // untouched: it was always subset-tolerant (each log skips only
      // its own committed tag on redelivery), so an arbitrary commit
      // interleaving at crash time heals exactly like the old fixed
      // order.
      val lands: Seq[(String, () => Unit)] = Seq(
        "main" -> (() => if (!tagCommitted(mainLog, tag)) {
          val dir = s"${roots.main}/$tag"
          s5.select(col("doc_id"), col("n_bpe"), col("q_score"))
            .write.mode("overwrite").parquet(dir)
          graft.sources.TableLog.commitDir(spark, mainLog, dir,
            "doc_id", st22MainSchema, tag)
          ()
        }),
        "stats" -> (() => if (!tagCommitted(statsLog, tag)) {
          val stageFrames = Seq("input" -> scored, "quality" -> s1,
            "language" -> s2, "exact_dedup" -> s3, "near_dedup" -> s4,
            "decontaminate" -> s5)
          val rows = stageFrames.zipWithIndex.map { case ((n, df), i) =>
            df.agg(count(lit(1)).as("n_out"),
                coalesce(sum(col("n_bpe")), lit(0L)).as("toks_out"))
              .select(lit(i.toLong).as("ord"), lit(n).as("stage"),
                col("n_out"), col("toks_out"))
          }.reduce(_ unionByName _)
          val dir = s"${roots.stats}/$tag"
          rows.write.mode("overwrite").parquet(dir)
          graft.sources.TableLog.commitDir(spark, statsLog, dir, "ord",
            st22StatsSchema, tag)
          ()
        }),
        // registries record EVERY doc that reached their stage (the
        // kept one is the min id — later arrivals of the key must
        // block whichever batch they land in)
        "md5" -> (() => landKeys(md5Log, s"${roots.md5s}/$tag",
          s2.select(md5(col("text")).as("key")).distinct()
            .join(seenMd5.select(col("key")), Seq("key"), "left_anti"))),
        "fp" -> (() => landKeys(fpLog, s"${roots.fps}/$tag",
          s3.drop("key")
            .withColumn("key", graft.operators.Pipeline.fingerprintCol)
            .filter(col("key").isNotNull).select("key").distinct()
            .join(seenFp.select(col("fp").as("key")), Seq("key"),
              "left_anti"))))
      graft.Concurrent.settleAll(spark)(lands.map { case (n, f) => s"st22: land $n" -> f })
      // st16's checkpoint cadence on all four destinations: every 8
      // batches each log collapses its replay and the txn watermark
      // folds the accumulated b@ tags to one row per log — this sink
      // (four tagged commits per batch) is the load the watermark
      // exists for; without the cadence it never engages
      if ((bid + 1) % 8 == 0)
        Seq(mainLog, statsLog, md5Log, fpLog).foreach(_.checkpoint())
    } finally { scored.unpersist(); () }
  }

  /** st22's staged run: pin the bench shingle frame off the static
    * corpus (the versioned-contamination-screen contract st9/st12
    * established — batch p1 derives the SAME set, so stream and
    * batch agree by construction), then drive every micro-batch
    * through [[st22Step]].
    */
  private[graft] def st22Root(t: Tables, qualityMin: Double = 0.35,
      k: Int = 5, benchMod: Long = 97): String =
    // the staging key carries EVERY pinned threshold (ragRoot's
    // contract): a call under different parameters must build its
    // own run, never silently reuse another configuration's funnel
    graft.Staging.dir(s"${t.dir}:st22:$qualityMin:$k:$benchMod",
      "st22") { d =>
      val spark = t.spark
      val path = s"${t.dir}/documents.parquet"
      val schema = spark.read.parquet(path).schema
      graft.Caches.fresh()
      val bench = graft.Caches.materialized(
        graft.operators.Pipeline.scoredProjection(
            spark.read.parquet(path).select("doc_id", "text"), k)
          .filter(col("doc_id") % benchMod === 0)
          .select(explode(col("sh")).as("s5")).distinct())
      val roots = St22Roots(d)
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir(t, path, "doc_id"))
        .select("doc_id", "text")
      val q = docs.writeStream
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          st22Step(spark, roots, bench, batch.toDF(), bid,
            qualityMin, k, benchMod)
        }
        .start()
      q.processAllAvailable(); q.stop()
    }

  /** st22: STREAMING CURATION — p1's quality→language→dedup→
    * decontaminate funnel AT THE SINK: each micro-batch curates
    * under pinned thresholds and its survivors + attrition land
    * batch-atomically (tagged commits; redelivery no-ops, torn
    * batches heal). The gated answer is the accumulated funnel
    * report — p1's columns, p1's ORACLE VERBATIM, because per-stage
    * totals are additive over batches once the cross-batch dedup
    * registries enforce the same keep-min-id policy batch p1
    * computes in one pass.
    */
  def st22StreamCurate(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = t.spark
    val roots = St22Roots(st22Root(t))
    val statsLog = graft.sources.TableLog.open(roots.stats)
    statsLog.read(spark, st22StatsSchema,
        statsLog.latestVersion.getOrElse(-1L))
      .groupBy("ord", "stage")
      .agg(sum("n_out").as("n_out"), sum("toks_out").as("toks_out"))
      .withColumn("n_in", coalesce(
        lag(col("n_out"), 1).over(Window.orderBy("ord")),
        col("n_out")))
      .select(col("ord").cast("int").as("ord"), col("stage"),
        col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("n_dropped"), col("toks_out"))
      .orderBy("ord")
  }

  val oracle: Map[String, String] = Map(
    // st22 equals batch p1 under exactly-once arrivals — p1's oracle
    // gates the stream verbatim (wired in SparkEntry.oracleSql);
    // st23 likewise serves under e1's oracle
    // the migrated index is the full corpus re-encoded under the
    // current full-corpus codebook, so post-cutover serving equals
    // batch s3 bit-for-bit — its full k-means-replay oracle verbatim
    "st20_ann_migrate" ->
      graft.operators.Ann.oracle("s3_ann_ivf"),
    // exactly-once arrivals across micro-batches make the maintained
    // main/quarantine union equal the batch classification — io15's
    // replay shape on the events table
    "st19_stream_expectations" ->
      """WITH b AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 37 = 0 THEN -value ELSE value END AS value
        |  FROM events),
        |cls AS (
        |  SELECT event_id, value,
        |    CASE WHEN value < 0 THEN 'neg_value' END AS reason
        |  FROM b)
        |SELECT CASE WHEN reason IS NULL THEN 'main'
        |            ELSE 'quarantine' END AS dest,
        |  coalesce(reason, '') AS reason, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM cls GROUP BY 1, 2 ORDER BY dest, reason""".stripMargin,
    // following the commit log to its head must reproduce the live
    // snapshot in the mirror — io11's relational reconstruction of
    // the post-erasure state, verbatim (the mirror never scans the
    // source at serve time, which is what the gate proves)
    "st18_stream_cdc_follow" ->
      graft.sources.Io.oracle("io11_vacuum"),
    // pinned codebook + exactly-once arrivals make maintained serving
    // equal batch s3's per probe, so the recall measurement equals
    // s8 — its full k-means-replay oracle verbatim
    "st17_ann_recall_maintain" ->
      graft.operators.Ann.oracle("s8_ann_recall"),
    // every event arrives exactly once across the batches and the
    // manifest only PRUNES, so the served range aggregate equals the
    // batch range query — io10's oracle verbatim
    "st16_stream_manifest_sink" ->
      graft.sources.Io.oracle("io10_stats_manifest"),
    // the disjoint history/live split + tag idempotence on both
    // phases make the bootstrapped table hold every event exactly
    // once — the served range aggregate is io10's oracle verbatim,
    // st16's equality extended across the backfill/tail boundary
    "st21_backfill_tail" ->
      graft.sources.Io.oracle("io10_stats_manifest"),
    // pinned codebook + disjoint arrivals make the maintained IVF
    // assignments equal batch assignedVecs row-for-row and the
    // serving arithmetic is batch s3's — s3's full k-means-replay
    // oracle verbatim
    "st15_stream_ann_maintain" ->
      graft.operators.Ann.oracle("s3_ann_ivf"),
    // disjoint arrivals make the maintained postings/doclen/stats
    // equal the batch index row-for-row and the serving arithmetic
    // is batch r8's — r8's oracle verbatim
    "st14_stream_index_maintain" ->
      graft.operators.Search.oracle("r8_bm25_search"),
    // compressed-edge connectivity equals the full pair evidence's,
    // so compaction reproduces batch d6's groups — d6's oracle
    // verbatim
    "st13_stream_group_maintain" ->
      graft.operators.Dedup.oracle("d6_dedup_groups"),
    // the scrub is a pure per-row projection under a pinned bench
    // set — batch d11's oracle verbatim
    "st12_stream_overlap_scrub" ->
      graft.operators.Dedup.oracle("d11_overlap_scrub"),
    // stateless per-batch projection under a pinned model —
    // batch s5's oracle verbatim
    "st11_stream_pq_encode" ->
      graft.operators.Ann.oracle("s5_pq_encode"),
    // stateless stream-static join emissions are arrival-order-
    // independent — batch d7's oracle verbatim
    "st9_stream_decontaminate" ->
      graft.operators.Dedup.oracle("d7_decontaminate"),
    // the two micro-batches split docs by id and in-batch arrivals
    // sort (doc_id, line_no), so incremental first-ownership equals
    // the batch window — d8's oracle verbatim
    "st8_stream_line_dedup" ->
      graft.operators.Dedup.oracle("d8_line_dedup"),
    // the two micro-batches split docs by id, so incremental packing
    // equals the batch form — t6's oracle verbatim
    "st7_stream_pack" ->
      graft.operators.TextAnalysis.oracle("t6_sequence_pack"),
    // inner stream-stream join emission is watermark-independent, so
    // the batch interval self-join IS the ground truth
    "st6_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    "st1_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin,
    // st4's emitted pair set is order-independent (each pair has one
    // earlier member), so the batch twin is the band join + exact
    // signature-estimate filter over the SAME minhash constructions
    "st4_stream_dedup" ->
      (s"""WITH ${graft.operators.Dedup.minhashCte},
         |mha AS (SELECT doc_id, list(v ORDER BY p) AS mhs FROM mh GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |e AS (
         |  SELECT doc_a, doc_b,
         |    len(list_filter(range(1, 17),
         |        i -> a.mhs[CAST(i AS INT)] = b.mhs[CAST(i AS INT)])) / 16.0 AS est_j
         |  FROM cand JOIN mha a ON a.doc_id = doc_a JOIN mha b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, est_j FROM e WHERE est_j >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),
    // st5's candidate set is the symmetric radius-1 band collision
    // (one-sided multi-probe ≡ Hamming ≤ 1 between band keys), so the
    // batch twin is d5's candidate construction + the integer sketch-
    // Hamming cut — no float crosses the engine boundary
    "st5_stream_embed_dedup" ->
      (s"""WITH pl AS (
        |  SELECT h, i,
        |    ((CASE WHEN ascii(substring(md5(h || ':' || i), 1, 1)) >= 97
        |       THEN ascii(substring(md5(h || ':' || i), 1, 1)) - 87
        |       ELSE ascii(substring(md5(h || ':' || i), 1, 1)) - 48 END) * 16 +
        |     (CASE WHEN ascii(substring(md5(h || ':' || i), 2, 1)) >= 97
        |       THEN ascii(substring(md5(h || ':' || i), 2, 1)) - 87
        |       ELSE ascii(substring(md5(h || ':' || i), 2, 1)) - 48 END)) / 255.0 * 2 - 1 AS w
        |  FROM (SELECT unnest(range(0, 4096)) AS h), (SELECT unnest(range(0, 64)) AS i)),
        |pls AS (SELECT h, list(w ORDER BY i) AS pw FROM pl GROUP BY h),
        |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bits AS (
        |  SELECT vec_id, h,
        |    CASE WHEN list_dot_product(v, pw) >= 0 THEN '1' ELSE '0' END AS bit
        |  FROM vv, pls),
        |sig AS (
        |  SELECT vec_id, string_agg(bit, '' ORDER BY h) AS s FROM bits GROUP BY vec_id),
        |bands AS (
        |  SELECT vec_id, b AS band, substring(s, CAST(b AS INT) * 16 + 1, 16) AS bsig
        |  FROM sig, (SELECT unnest(range(0, 256)) AS b) bb),
        |probes AS (
        |  SELECT vec_id, band, CASE WHEN j = 0 THEN bsig
        |    ELSE substring(bsig, 1, CAST(j AS INT) - 1) ||
        |         (CASE WHEN substring(bsig, CAST(j AS INT), 1) = '1' THEN '0' ELSE '1' END) ||
        |         substring(bsig, CAST(j AS INT) + 1, 16 - CAST(j AS INT)) END AS psig
        |  FROM bands, (SELECT unnest(range(0, 17)) AS j) jj),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM probes x JOIN bands y
        |    ON x.band = y.band AND x.psig = y.bsig AND x.vec_id < y.vec_id),
        |hm AS (
        |  SELECT vec_a, vec_b,
        |    len(list_filter(range(1, 513),
        |        i -> substring(a.s, CAST(i AS INT), 1) <> substring(b.s, CAST(i AS INT), 1))) AS ham
        |  FROM cand JOIN sig a ON a.vec_id = vec_a JOIN sig b ON b.vec_id = vec_b)
        |SELECT vec_a, vec_b, CAST(ham AS INT) AS ham FROM hm
        |WHERE ham <= ${st5HamCut(0.45)}
        |ORDER BY vec_a, vec_b""".stripMargin),
    // st2 emits exactly the sessions a later event CLOSED: the q9
    // batch sessionization minus each user's final (still-open)
    // session. Derivable because the two micro-batches partition the
    // events by time, so closed-session contents equal the batch ones.
    "st2_stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |b AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM b),
        |agg AS (
        |  SELECT user_id, session_id,
        |    make_timestamp(min(epoch_us(ts))) AS session_start,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, session_start, n_events FROM agg
        |QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
        |ORDER BY user_id, session_start""".stripMargin,
    // st3's append-mode output is every hourly window whose END the
    // final 30-minute watermark passed (the trailing no-data
    // micro-batch flushes up to max event time - 30 min); batch-split
    // by time means no late drops, so emitted counts are the full
    // batch counts.
    "st3_stream_late_append" -> lateAppendSql,
    // st10 lands st3's exact transformation through the checkpointed
    // parquet file sink — same append semantics, same oracle
    "st10_stream_file_sink" -> lateAppendSql
  )

  /** Shared oracle for st3 (memory sink) and st10 (file sink): hourly
    * windows whose end clears the final watermark cut.
    */
  private lazy val lateAppendSql: String =
    """WITH m AS (
      |  SELECT max(make_timestamp(epoch_us(ts))) AS mx FROM events),
      |w AS (
      |  SELECT date_trunc('hour', ts) AS window_start, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY date_trunc('hour', ts), event_type)
      |SELECT window_start, event_type, n FROM w, m
      |WHERE window_start + INTERVAL 1 HOUR <= mx - INTERVAL 30 MINUTE
      |ORDER BY window_start, event_type""".stripMargin
}
