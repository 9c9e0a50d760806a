package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.TableLog

/** The unified commit-log metadata layer: one versioned log must
  * serve time travel, CDC and manifest pruning TOGETHER (the layer is
  * the point — not three ad-hoc layouts), commits must be atomic
  * (torn commits invisible, version claims exclusive), and committed
  * files immutable (old snapshots keep serving after a rewrite).
  */
class TableLogSpec extends SparkSpec {

  test("one orders log serves MERGE read, time travel and CDC: " +
      "three versions, copy-on-write file lists, old snapshots intact") {
    val t = Tables(spark, sf)
    val log = graft.sources.Io.ordersLog(t)
    assert(log.versions == Seq(0L, 1L, 2L))
    val s0 = log.snapshot(0L).map(_.path).toSet
    val s1 = log.snapshot(1L).map(_.path).toSet
    val s2 = log.snapshot(2L).map(_.path).toSet
    // the MERGE (v1) and the erasure (v2) are full copy-on-write
    // rewrites: remove+add in one commit, no file shared across them
    assert(s0.nonEmpty && s1.nonEmpty && s2.nonEmpty)
    assert(s0.intersect(s1).isEmpty && s1.intersect(s2).isEmpty)
    // immutability: v0's files still exist and serve AFTER two
    // rewrites — time travel is planning from an old file list
    assert(s0.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))))
    val sch = graft.sources.Io.ordersSchema
    val nBase = t.orders.count()
    assert(log.read(spark, sch, 0L).count() == nBase)
    // v1 = base + inserts (keys ≡ 0 mod 25 cloned): row-count law
    val nIns = t.orders.filter(col("o_orderkey") % 25 === 0).count()
    assert(log.read(spark, sch, 1L).count() == nBase + nIns)
    // v2 = v1 minus erased real keys (≥ 0, ≡ 0 mod 50)
    val nErase = log.read(spark, sch, 1L)
      .filter(col("o_orderkey") >= 0 && col("o_orderkey") % 50 === 0)
      .count()
    assert(log.read(spark, sch, 2L).count() == nBase + nIns - nErase)
    // CDC off the SAME log: io8's feed classifies against v0/v2 —
    // deletes are exactly the erased keys
    val feed = run("io8_change_feed")
    assert(feed.filter(col("change") === "delete").count() == nErase)
    // per-file key stats are real bounds (the pruning contract)
    log.snapshot(2L).foreach { f =>
      assert(f.minKey <= f.maxKey && f.nRows > 0)
    }
  }

  test("shallow clone is zero-copy and independent: borrowed files, " +
      "divergent append leaves the source frozen, clone vacuum safe") {
    val t = Tables(spark, sf)
    val src = graft.sources.Io.ordersLog(t)
    run("io13_shallow_clone").collect()
    val clone = graft.sources.Io.clonedLog(t)
    val srcLive = src.snapshot(src.latestVersion.get).map(_.path).toSet
    // zero copy: the clone's v0 file list IS the source's live list —
    // and no parquet data landed under the clone root
    assert(clone.snapshot(0L).map(_.path).toSet == srcLive)
    assert(graft.Fs.listRec(clone.root, ".parquet").isEmpty,
      "clone root holds data files — the clone copied bytes")
    // independence: an append to the CLONE diverges it while the
    // source's head and file list stay frozen
    val srcHead = src.latestVersion.get
    val extra = t.orders.limit(10)
      .withColumn("o_orderkey", -(col("o_orderkey") + 9000000L))
    val dir = s"${clone.root}/extra"
    extra.write.mode("overwrite").parquet(dir)
    clone.commit(graft.sources.TableLog
      .statsFor(spark, dir, "o_orderkey", graft.sources.Io.ordersSchema)
      .map(graft.sources.TableLog.Add), tag = "diverge")
    assert(clone.read(spark, graft.sources.Io.ordersSchema,
      clone.latestVersion.get).count() ==
      src.read(spark, graft.sources.Io.ordersSchema, srcHead).count() + 10)
    assert(src.latestVersion.get == srcHead)
    assert(src.snapshot(srcHead).map(_.path).toSet == srcLive)
    // the clone's own vacuum never deletes BORROWED files: its
    // retained snapshot references them, so they are not its dead set
    clone.vacuum(retain = 1)
    assert(srcLive.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))),
      "clone vacuum deleted source files")
  }

  test("io17 RESTORE: metadata-only rollback — the head re-serves " +
      "the target's file list, idempotent, vacuum reclaims the " +
      "mis-write, restored head survives it") {
    val t = Tables(spark, sf)
    run("io17_restore").collect()
    val log = graft.sources.Io.restoredLog(t)
    // the restore is a NEW version on top of the 3-version history
    assert(log.versions == Seq(0L, 1L, 2L, 3L))
    // metadata-only: the restored head's file list IS v0's file list
    // (paths re-added by reference, no data bytes landed)
    assert(log.snapshot(3L).map(_.path).toSet ==
      log.snapshot(0L).map(_.path).toSet)
    // the mis-write stays addressable for audit
    val sch = graft.sources.Io.ordersSchema
    assert(log.read(spark, sch, 2L).count() > 0)
    // idempotent: a re-run sees head == target and commits NOTHING
    assert(graft.sources.Io.restorePass(log, 0L).isEmpty)
    assert(log.versions.size == 4)

    // vacuum-ordering drill on a PRIVATE log (the shared staged one
    // must keep v2 readable for the operator's diff): land, rewrite,
    // restore, vacuum — the mis-write's exclusive bytes die, the
    // restored head keeps serving because its files are referenced
    // again by the head snapshot. Run twice: on the log as written,
    // whose entries are root-relative, and on the same log with the
    // absolute `file:` entries older writers recorded, which must
    // still resolve (and mix with the relative ones restore adds).
    for (absolute <- Seq(false, true)) {
      val root = graft.Staging.scratch("restore_drill")
      val d1 = spark.range(0, 100)
        .select(col("id").as("k"), lit("a").as("s"))
      val d2 = spark.range(0, 40)
        .select(col("id").as("k"), lit("b").as("s"))
      graft.api.Graft.tableCommit(d1, root, "k")
      graft.api.Graft.tableCommit(d2, root, "k", replace = true)
      if (absolute) absolutize(root)
      val drill = TableLog.open(root)
      val v1Files = drill.snapshot(1L).map(_.path)
      assert(graft.api.Graft.tableRestore(root, 0L).contains(2L))
      // restoring to a version whose list the head already serves no-ops
      assert(graft.api.Graft.tableRestore(root, 0L).isEmpty)
      drill.vacuum(retain = 1)
      // the mis-write's exclusive files are reclaimed...
      assert(v1Files.forall(p => !java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(p).getPath))))
      // ...and the restored head still serves the original rows
      assert(drill.read(spark, d1.schema, 2L).count() == 100L)
      // restoring PAST the vacuum horizon refuses instead of minting a
      // head that references reclaimed bytes (Delta RESTORE's refusal):
      // v1's exclusive files are gone, so restore-to-v1 must throw and
      // leave the log untouched
      val nvAfter = drill.versions.size
      val ex = intercept[IllegalStateException] {
        graft.api.Graft.tableRestore(root, 1L)
      }
      assert(ex.getMessage.contains("vacuum"))
      assert(drill.versions.size == nvAfter,
        "refused restore minted a version")
      assert(drill.read(spark, d1.schema, 2L).count() == 100L)
    }
  }

  test("RESTORE across an ALTER boundary re-declares the target " +
      "era's schema (Delta's metaData re-commit): the restored head " +
      "serves the pre-ALTER schema, not the post-ALTER one over " +
      "pre-ALTER files") {
    val t = Tables(spark, sf)
    run("io6_schema_evolution").collect()
    // work on a COPY of the evolved log: the staged one is shared
    val src = graft.sources.Io.evolvedLog(t)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restore_schema_drill_").toString
    val log = TableLog.open(root)
    val g1 = graft.sources.Io.io6Gen1Schema
    val g2 = graft.sources.Io.io6Gen2Schema
    // replay the io6 history shape onto the private log: gen1 files
    // (referenced in place — restore never moves bytes) under the
    // 3-col schema, ALTER to 4 cols, gen2 files
    log.commit(src.snapshot(0L).map(TableLog.Add), tag = "gen1",
      schema = Some(g1))
    log.commit(Nil, tag = "alter", schema = Some(g2))
    val gen2Only = {
      val base = src.snapshot(0L).map(_.path).toSet
      src.snapshot(2L).filterNot(f => base(f.path))
    }
    log.commit(gen2Only.map(TableLog.Add), tag = "gen2")
    assert(log.schemaAt(2L).get.fieldNames.length == 4)
    // restore to v0: pre-ALTER files AND pre-ALTER schema
    val rv = graft.sources.Io.restorePass(log, 0L)
    assert(rv.contains(3L))
    assert(log.snapshot(3L).map(_.path).toSet ==
      log.snapshot(0L).map(_.path).toSet)
    assert(log.schemaAt(3L).get.fieldNames.toSeq == g1.fieldNames.toSeq,
      "restored head kept the post-ALTER schema")
    assert(log.read(spark, log.schemaAt(3L).get, 3L).columns.length == 3)
    // idempotent: head already serves v0's list AND schema
    assert(graft.sources.Io.restorePass(log, 0L).isEmpty)
    // a restore FORWARD to the post-ALTER head re-declares v2's
    // schema again (schema-only delta would also commit: the file
    // lists differ here so both deltas ride one commit)
    val fwd = graft.sources.Io.restorePass(log, 2L)
    assert(fwd.contains(4L))
    assert(log.schemaAt(4L).get.fieldNames.length == 4)
    // BOUNDARY contract: a target that PREDATES the first schema
    // declaration keeps the head's declaration in force (no "clear"
    // marker exists; that era's readers supplied schemas externally)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_restore_predecl_drill_").toString
    val log2 = TableLog.open(root2)
    val preFiles = src.snapshot(0L)
    log2.commit(preFiles.map(TableLog.Add), tag = "pre")
    // the declaring commit also rewrites the files, so the restore
    // below has a real file delta to commit
    log2.commit(preFiles.map(f => TableLog.Remove(f.path)) ++
      gen2Only.map(TableLog.Add), tag = "declare", schema = Some(g2))
    assert(graft.sources.Io.restorePass(log2, 0L).contains(2L))
    assert(log2.snapshot(2L).map(_.path).toSet ==
      preFiles.map(_.path).toSet)
    assert(log2.schemaAt(2L).contains(g2),
      "pre-declaration restore should keep the head's declaration")
    graft.Fs.deleteTree(root2)
    // the private log references the SHARED staged data files by
    // path — delete only our log dir, never their bytes
    graft.Fs.deleteTree(root)
    ()
  }

  test("quarantine replay: survivors rejoin main, failures retire " +
      "under the corrected reason, dead quarantine bytes vacuumed; " +
      "redelivery no-ops and a torn side heals without re-landing") {
    val t = Tables(spark, sf)
    run("io16_quarantine_replay").collect()
    val (mainLog, qLog) = graft.sources.Io.replayedLogs(t)
    val sch = graft.sources.Io.io15Schema
    // post-replay quarantine = exactly the ODD poisoned keys, each
    // under the (unchanged here) corrected reason
    val quar = qLog.read(spark, sch, qLog.latestVersion.get).collect()
    assert(quar.nonEmpty)
    assert(quar.forall(r => r.getLong(0) % 37 == 0 &&
      r.getLong(0) % 2 != 0 && r.getDouble(1) < 0 &&
      r.getString(2) == "neg_price"))
    // every EVEN poisoned key survived into main with reason cleared
    val evenPoisoned = t.orders.filter(col("o_orderkey") % 37 === 0 &&
      col("o_orderkey") % 2 === 0).count()
    val mainRows = mainLog.read(spark, sch, mainLog.latestVersion.get)
    assert(mainRows.filter(col("o_orderkey") % 37 === 0).count()
      == evenPoisoned)
    assert(mainRows.filter(col("reason").isNotNull).count() == 0)
    // the pre-replay quarantine bytes are physically reclaimed
    val preReplay = qLog.snapshot(qLog.tagVersion("b0").get).map(_.path)
    assert(preReplay.forall(p => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))),
      "vacuum left pre-replay quarantine bytes")
    // ---- redelivery + torn-side drills on a throwaway pair ----
    val session2 = spark
    import session2.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_io16_drill_").toString
    try {
      graft.api.Graft.tableCommit(
        Seq((1L, 10.0, Option.empty[String]))
          .toDF("o_orderkey", "o_totalprice", "reason"),
        s"$tmp/main", "o_orderkey", tag = "b0")
      graft.api.Graft.tableCommit(
        Seq((3L, -5.0, Some("neg_price")), (4L, -7.0, Some("neg_price")))
          .toDF("o_orderkey", "o_totalprice", "reason"),
        s"$tmp/quarantine", "o_orderkey", tag = "b0")
      val m = graft.sources.TableLog.open(s"$tmp/main")
      val q = graft.sources.TableLog.open(s"$tmp/quarantine")
      val corrected = when(!(col("o_totalprice") >= 0 ||
        col("o_orderkey") % 2 === 0), lit("neg_price"))
      def pass(): Unit = graft.sources.Io.quarantineReplayPass(spark,
        m, q, s"$tmp/replay", sch, "o_orderkey", corrected, "replay-b0")
      pass()
      def serve() = graft.sources.Io.quarantineServe(spark, m, q, sch,
        "o_orderkey", "o_totalprice", "total_price", "min_key",
        "max_key").collect().map(_.toSeq).toSeq
      val once = serve()
      // 4 (even) rejoined main; 3 (odd) retired-in-place
      assert(m.read(spark, sch, m.latestVersion.get).count() == 2)
      assert(q.read(spark, sch, q.latestVersion.get).collect()
        .map(_.getLong(0)).toSeq == Seq(3L))
      // redelivery: both tags present ⇒ no-op, no version minted
      val (vm, vq) = (m.latestVersion, q.latestVersion)
      pass()
      assert(m.latestVersion == vm && q.latestVersion == vq)
      assert(serve() == once)
      // torn side: main's replay commit vanishes (the window between
      // the two commits) — the retry completes it from the landed
      // files WITHOUT re-landing over what quarantine references
      val mFiles = m.snapshot(m.latestVersion.get).map(_.path).toSet
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        f"$tmp/main/_log/v${vm.get}%012d.commit"))
      pass()
      val m2 = graft.sources.TableLog.open(s"$tmp/main")
      assert(m2.tagVersion("replay-b0").isDefined)
      assert(m2.snapshot(m2.latestVersion.get).map(_.path).toSet
        == mFiles, "torn-side heal re-landed the replay files")
      assert(serve() == once)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("schema evolution rides the commit log: old snapshots serve " +
      "their era's schema, the head null-fills legacy files, and a " +
      "checkpoint carries the schema across the collapse") {
    val t = Tables(spark, sf)
    run("io6_schema_evolution").collect()
    val log = graft.sources.Io.evolvedLog(t)
    assert(log.versions == Seq(0L, 1L, 2L))
    // v0's era: the 3-column schema, served as written
    assert(log.schemaAt(0L).get.fieldNames.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(log.read(spark, log.schemaAt(0L).get, 0L)
      .columns.length == 3)
    // the ALTER commit is METADATA-ONLY: schema evolves, no file moves
    assert(log.schemaAt(1L).get.fieldNames.contains("o_orderpriority"))
    assert(log.snapshot(1L).map(_.path).toSet ==
      log.snapshot(0L).map(_.path).toSet)
    // head read under the log's schema: legacy (even-key) files
    // null-fill the new column, gen2 rows carry it — exactly
    val head = log.latestVersion.get
    val df = log.read(spark, log.schemaAt(head).get, head)
    assert(df.columns.length == 4)
    assert(df.filter(col("o_orderkey") % 2 === 0)
      .filter(col("o_orderpriority").isNotNull).count() == 0,
      "legacy rows carry a non-null evolved column")
    assert(df.filter(col("o_orderkey") % 2 === 1)
      .filter(col("o_orderpriority").isNull).count() == 0,
      "evolved rows lost their column")
    // the checkpoint collapse must not lose the schema: a fresh open
    // whose schemaAt scan stops at the checkpoint still reads it
    log.checkpoint()
    val reopened = graft.sources.TableLog.open(log.root)
    assert(reopened.schemaAt(head).get.fieldNames
      .contains("o_orderpriority"))
    assert(reopened.schemaAt(0L).get.fieldNames.length == 3,
      "time travel below the checkpoint lost its era's schema")
  }

  test("an aborted tableCommit sweeps its staged data dir: no bytes " +
      "orphaned where vacuum could never reach them") {
    val session2 = spark
    import session2.implicits._
    val root = graft.Staging.scratch("tls_abort_sweep")
    graft.api.Graft.tableCommit(
      (1L to 50L).map(i => (i, s"r$i")).toDF("k", "p"), root, "k")
    // corrupt the NEXT version's commit file: the replace-commit's
    // prepare (snapshot replay) throws inside the OCC loop — the
    // deterministic stand-in for an exhausted/conflicted abort
    val junk = java.nio.file.Paths.get(root, "_log",
      f"v${1L}%012d.commit")
    java.nio.file.Files.write(junk,
      "tag:x\ngarbage line".getBytes("UTF-8"))
    val before = graft.Fs.listRec(root, ".parquet")
      .map(_.path).toSet
    intercept[RuntimeException] {
      graft.api.Graft.tableCommit(
        (1L to 10L).map(i => (i, "new")).toDF("k", "p"), root, "k",
        replace = true)
    }
    val after = graft.Fs.listRec(root, ".parquet")
      .map(_.path).toSet
    assert(after == before,
      s"aborted commit orphaned staged files: ${after -- before}")
  }

  test("CHECK constraint gates the commit path: rejection leaves no " +
      "version and no files, NULL fails strictly, metadata persists") {
    val session2 = spark
    import session2.implicits._
    val root = graft.Staging.scratch("tls_constraint")
    graft.api.Graft.tableConstrain(root, "v > 0")
    val log = graft.sources.TableLog.open(root)
    assert(log.constraint.contains("v > 0"))
    // admissible batch commits
    assert(graft.api.Graft.tableCommit(
      Seq((1L, 5L), (2L, 7L)).toDF("k", "v"), root, "k") == 0L)
    // violating batch: rejected whole, no version minted, no files
    val filesBefore = graft.Fs.listRec(root, ".parquet").length
    intercept[IllegalArgumentException] {
      graft.api.Graft.tableCommit(
        Seq((3L, 9L), (4L, -1L)).toDF("k", "v"), root, "k")
    }
    assert(log.latestVersion.contains(0L))
    assert(graft.Fs.listRec(root, ".parquet").length == filesBefore,
      "rejected commit landed files")
    // NULL constraint result is a violation (the strict form)
    intercept[IllegalArgumentException] {
      graft.api.Graft.tableCommit(
        Seq((5L, Some(3L)), (6L, None)).toDF("k", "v"), root, "k")
    }
    // the constraint is catalog metadata — a fresh open still enforces
    intercept[IllegalArgumentException] {
      graft.api.Graft.tableCommit(
        Seq((7L, -2L)).toDF("k", "v"), root, "k")
    }
    // and the operator's own pass: poisoned bounced, good landed
    val t = Tables(spark, sf)
    run("io14_check_constraint").collect()
    val cons = graft.sources.Io.constrainedLog(t)
    assert(cons.versions == Seq(0L, 1L))
    assert(cons.tagVersion("base").contains(0L) &&
      cons.tagVersion("good").contains(1L))
  }

  test("expectations split exactly: quarantine holds precisely the " +
      "violating rows with their reason, main the rest, both tagged") {
    val t = Tables(spark, sf)
    run("io15_expectations").collect()
    val (mainLog, qLog) = graft.sources.Io.expectationLogs(t)
    val sch = graft.sources.Io.io15Schema
    val main = mainLog.read(spark, sch, mainLog.latestVersion.get)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val quar = qLog.read(spark, sch, qLog.latestVersion.get)
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2)))
    // quarantine = exactly the poisoned keys, each negative, each
    // carrying the expectation that caught it
    val poisonKeys = t.orders
      .filter(col("o_orderkey") % 37 === 0)
      .filter(col("o_totalprice") > 0) // a zero price would pass
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(quar.map(_._1).toSet == poisonKeys)
    assert(quar.forall(q => q._2 < 0 && q._3 == "neg_price"))
    // the split is an exact partition of the batch
    assert(main.keySet.intersect(quar.map(_._1).toSet).isEmpty)
    assert(main.size + quar.length == t.orders.count())
    // both destinations carry the batch's idempotence tag
    assert(mainLog.tagVersion("b0").contains(0L) &&
      qLog.tagVersion("b0").contains(0L))
  }

  test("manifest pruning and the st16 sink read the same log shape: " +
      "stats admit a strict subset, pruned answer equals full scan") {
    val t = Tables(spark, sf)
    val log = graft.sources.Io.eventsLog(t)
    val v = log.latestVersion.get
    val admitted = log.prunedFiles(v, 100L, 399L)
    val all = log.snapshot(v)
    assert(admitted.nonEmpty && admitted.length < all.length,
      s"admitted ${admitted.length} of ${all.length} — no skipping")
    // pruning is invisible to answers
    def sums(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_id").between(100L, 399L))
      .agg(count(lit(1)),
        sum(col("value").cast("decimal(18,2)")).cast("double"))
      .collect()(0).toSeq
    assert(sums(log.prunedRead(spark, graft.sources.Io.io10Schema,
      v, 100L, 399L)) == sums(t.events))
    // a disjoint range prunes to nothing and reads as empty
    assert(log.prunedFiles(v, -5000L, -4000L).isEmpty)
    assert(log.prunedRead(spark, graft.sources.Io.io10Schema,
      v, -5000L, -4000L).count() == 0L)
  }

  /** Rewrite every commit of the log at `root` with absolute `file:`
    * URIs in place of root-relative entries: the format logs had
    * before entries were recorded relative.
    */
  private def absolutize(root: String): Unit = {
    val logDir = java.nio.file.Paths.get(root, "_log")
    val s = java.nio.file.Files.list(logDir)
    val commits = try s.iterator().asScala.toList finally s.close()
    for (f <- commits if f.getFileName.toString.endsWith(".commit")) {
      val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").map { l =>
          l.split("\t") match {
            case Array(a, p, rest @ _*) if (a == "add" || a == "remove") &&
                !p.startsWith("/") =>
              (Seq(a, java.nio.file.Paths.get(root, p).toUri.toString) ++ rest)
                .mkString("\t")
            case _ => l
          }
        }
      assert(lines.exists(_.contains("\tfile:/")), s"$f has no entry to rewrite")
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    }
  }

  test("a copied table root reads, time-travels and vacuums its own " +
      "files, and leaves the original's bytes untouched") {
    val src = graft.Staging.scratch("tablelog_copy_src")
    val d1 = spark.range(0, 100).select(col("id").as("k"), lit("a").as("s"))
    val d2 = spark.range(0, 40).select(col("id").as("k"), lit("b").as("s"))
    graft.api.Graft.tableCommit(d1, src, "k")
    graft.api.Graft.tableCommit(d2, src, "k", replace = true)
    def bytesUnder(root: String): Map[String, Seq[Byte]] =
      graft.Fs.listRec(root).map(e => e.path.stripPrefix(root) ->
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(e.path)).toSeq)
        .toMap
    val before = bytesUnder(src)
    val copy = s"${graft.Staging.scratch("tablelog_copy")}/table"
    graft.Fs.copy(src, copy)
    val log = TableLog.open(copy)
    assert(log.versions == Seq(0L, 1L))
    val entries = log.snapshot(0L) ++ log.snapshot(1L)
    assert(entries.nonEmpty && entries.forall(_.path.startsWith(s"$copy/")),
      s"the copy serves files outside itself: ${entries.map(_.path)}")
    assert(log.read(spark, d1.schema, 0L).count() == 100L)
    assert(log.read(spark, d1.schema, 1L).count() == 40L)
    val gone = log.vacuum(retain = 1)
    assert(gone.nonEmpty && gone.forall(_.startsWith(s"$copy/")))
    assert(log.read(spark, d1.schema, 1L).count() == 40L)
    assert(bytesUnder(src) == before,
      "reading or vacuuming the copy changed the original's files")
    assert(TableLog.open(src).read(spark, d1.schema, 0L).count() == 100L)
  }

  test("commitWithRetry under 8 racing writers: versions are gapless " +
      "and every writer's commit lands exactly once per round") {
    val root = graft.Staging.scratch("tablelog_race")
    val (writers, rounds) = (8, 6)
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { w =>
      new Thread(() =>
        try (0 until rounds).foreach { r =>
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          TableLog.open(root).commitWithRetry(s"w$w@$r", maxRetries = 100) { _ =>
            Seq(TableLog.Add(TableLog.FileEntry(s"w$w-r$r", r, r, 1L)))
          }
        } catch { case e: Throwable => errors.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    val log = TableLog.open(root)
    val n = writers * rounds
    assert(log.versions == (0L until n.toLong))
    val tags = log.versions.map(log.tagOf)
    for (w <- 0 until writers; r <- 0 until rounds)
      assert(tags.count(_ == s"w$w@$r") == 1, s"w$w@$r in $tags")
    assert(log.snapshot(n - 1L).length == n)
  }

  test("torn commit drill: a crashed writer's tmp is invisible, the " +
      "next commit proceeds, and a claimed version cannot be overwritten") {
    import SparkSpec.spark.implicits._
    val root = graft.Staging.scratch("tablelog_torn")
    val dataDir = s"$root/d0"
    Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("event_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dataDir)
    val log = TableLog.open(root)
    val entries = TableLog.statsFor(spark, dataDir, "event_id",
      graft.sources.Io.io10Schema)
    assert(log.commit(entries.map(TableLog.Add), tag = "v0") == 0L)
    // CRASH SIMULATION: a writer died after staging its commit body
    // but before the atomic claim — only the .tmp exists
    val logDir = java.nio.file.Paths.get(root, "_log")
    java.nio.file.Files.write(logDir.resolve("v000000000001.commit.tmp"),
      "tag:torn\nadd\t/nowhere\t0\t0\t0"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // readers never see the torn commit
    assert(TableLog.open(root).versions == Seq(0L))
    assert(TableLog.open(root).snapshot(0L).map(_.path).toSet ==
      entries.map(_.path).toSet)
    // the next writer claims version 1 normally
    assert(log.commit(Seq(TableLog.Remove(entries.head.path)),
      tag = "v1") == 1L)
    assert(TableLog.open(root).snapshot(1L).length ==
      entries.length - 1)
    // EXCLUSIVE CLAIM (the OCC race): this writer read latest = 1 and
    // prepared a commit for version 2 — but a rival claimed 2 first.
    // The stale claim must FAIL, never overwrite history.
    java.nio.file.Files.write(logDir.resolve("v000000000002.commit"),
      "tag:rival".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      log.commit(Seq(TableLog.Remove("x")), tag = "loser",
        atVersion = Some(2L))
    }
    // the rival's commit is what history records — its bytes intact
    // (writer-unique staging: the loser never touched them), and the
    // loser's staging file cleaned up
    assert(TableLog.open(root).versions == Seq(0L, 1L, 2L))
    assert(new String(java.nio.file.Files.readAllBytes(
        logDir.resolve("v000000000002.commit")),
      java.nio.charset.StandardCharsets.UTF_8).startsWith("tag:rival"))
    val strays = {
      val s = java.nio.file.Files.list(logDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .count(n => n.endsWith(".tmp") && n.contains("commit.") &&
            !n.startsWith("v000000000001"))
      } finally s.close()
    }
    assert(strays == 0, s"loser left $strays staging files behind")
  }

  test("checkpoint collapses the replay: snapshots equal pure replay " +
      "above and below the checkpoint, and checkpointing is idempotent") {
    val root = graft.Staging.scratch("tablelog_ckpt")
    val log = TableLog.open(root)
    // synthetic entries — the log is pure metadata, paths need not
    // exist until a read plans them
    def f(i: Int) = TableLog.FileEntry(s"f$i", i.toLong, i.toLong, 1L)
    // commit i adds f_i and (from 2 on) removes f_{i-2}: live set at
    // v is {f_{v-1}, f_v}
    (0 until 8).foreach { i =>
      log.commit(Seq(TableLog.Add(f(i))) ++
        (if (i >= 2) Seq(TableLog.Remove(s"f${i - 2}")) else Nil))
    }
    log.checkpoint() // collapses v7
    log.checkpoint() // idempotent
    (8 until 12).foreach { i =>
      log.commit(Seq(TableLog.Add(f(i)), TableLog.Remove(s"f${i - 2}")))
    }
    // a relative entry is root-relative: snapshots serve it resolved
    def live(v: Int) = Set(s"$root/f${v - 1}", s"$root/f$v")
    // above the checkpoint: base = ckpt(7) + replay of 8..11
    assert(TableLog.open(root).snapshot(11L).map(_.path).toSet == live(11))
    // at the checkpoint exactly
    assert(TableLog.open(root).snapshot(7L).map(_.path).toSet == live(7))
    // BELOW the checkpoint: time travel still replays from v0
    assert(TableLog.open(root).snapshot(5L).map(_.path).toSet == live(5))
    // stats survive the checkpoint round trip
    val e = TableLog.open(root).snapshot(11L).find(_.path == s"$root/f11").get
    assert(e.minKey == 11L && e.maxKey == 11L && e.nRows == 1L)
  }

  test("vacuum deletes exactly the bytes no retained snapshot " +
      "references; the live version serves unchanged") {
    val t = Tables(spark, sf)
    val log = graft.sources.Io.vacuumedLog(t)
    val sch = graft.sources.Io.ordersSchema
    def onDisk(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))
    // the live (latest) snapshot's files all survive and serve the
    // correct erased-state row count
    val live = log.snapshot(log.latestVersion.get)
    assert(live.nonEmpty && live.forall(f => onDisk(f.path)))
    val nBase = t.orders.count()
    val nIns = t.orders.filter(col("o_orderkey") % 25 === 0).count()
    val nErase = t.orders.filter(col("o_orderkey") >= 0 &&
      col("o_orderkey") % 50 === 0).count()
    assert(log.read(spark, sch, log.latestVersion.get).count() ==
      nBase + nIns - nErase)
    // the dead versions' exclusive files are PHYSICALLY gone (their
    // commit metadata remains — the file lists still replay)
    val v0Files = log.snapshot(0L)
    val v1Files = log.snapshot(1L)
    assert(v0Files.nonEmpty && v0Files.forall(f => !onDisk(f.path)))
    assert(v1Files.nonEmpty && v1Files.forall(f => !onDisk(f.path)))
    // vacuum is idempotent: nothing left to delete on a re-run
    assert(log.vacuum(retain = 1).isEmpty)
  }

  test("OPTIMIZE is a tagged rewrite commit: file count shrinks, " +
      "dead shards vacuumed, redelivered pass is a no-op") {
    val t = Tables(spark, sf)
    val log = graft.sources.Io.optimizedLog(t, 8L << 20)
    def onDisk(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))
    // v0 = the 64-shard landing, v1 = the optimize rewrite; the
    // optimize commit carries its idempotence tag
    assert(log.versions == Seq(0L, 1L))
    assert(log.tagVersion("optimize").contains(1L))
    val landed = log.snapshot(0L)
    val opt = log.snapshot(1L)
    assert(landed.length == 64 && opt.length < landed.length)
    // same rows, relocated: the rewrite preserves the row count and
    // the doc_id span end-to-end
    assert(opt.map(_.nRows).sum == landed.map(_.nRows).sum)
    assert(opt.map(_.minKey).min == landed.map(_.minKey).min &&
      opt.map(_.maxKey).max == landed.map(_.maxKey).max)
    // vacuum reclaimed the 64 small shards; the optimized files serve
    assert(landed.forall(f => !onDisk(f.path)))
    assert(opt.forall(f => onDisk(f.path)))
    assert(log.read(spark, t.documents.schema, 1L).count() ==
      t.documents.count())
  }

  test("OPTIMIZE rewrites ONLY the small-file offenders: a " +
      "right-sized file survives in place, untouched") {
    import SparkSpec.spark.implicits._
    val root = graft.Staging.scratch("tablelog_opt_select")
    val log = TableLog.open(root)
    // one right-sized file (100k rows) + 8 tiny shards (10 rows each)
    val big = spark.range(0L, 100000L).select(col("id").as("doc_id"),
      concat(lit("x"), md5(col("id").cast("string"))).as("text"))
    big.coalesce(1).write.mode("overwrite").parquet(s"$root/big")
    val small = spark.range(100000L, 100080L).select(
      col("id").as("doc_id"), concat(lit("y"), col("id")).as("text"))
    small.repartition(8).write.mode("overwrite").parquet(s"$root/small")
    val sch = big.schema
    val landed =
      TableLog.statsFor(spark, s"$root/big", "doc_id", sch) ++
        TableLog.statsFor(spark, s"$root/small", "doc_id", sch)
    log.commit(landed.map(TableLog.Add), tag = "land")
    def bytes(p: String) = java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))
    val bigPaths = log.snapshot(0L).filter(f => bytes(f.path) >= 50_000)
      .map(_.path).toSet
    assert(bigPaths.size == 1 && log.snapshot(0L).length == 9)
    graft.sources.Io.optimizePass(spark, log, s"$root/opt", sch,
      "doc_id", targetBytes = 100_000L)
    // the big file rode through untouched; the 8 offenders collapsed
    val after = log.snapshot(1L)
    assert(after.map(_.path).toSet.intersect(bigPaths) == bigPaths)
    assert(after.length < 9 && after.map(_.nRows).sum == 100080L)
    // redelivered pass: tag hit, no new version
    graft.sources.Io.optimizePass(spark, log, s"$root/opt2", sch,
      "doc_id", targetBytes = 100_000L)
    assert(log.latestVersion.contains(1L))
  }

  test("commitWithRetry: a lost claim rebases and retries; a " +
      "conflicting rewrite of the same file aborts") {
    val root = graft.Staging.scratch("tablelog_occ")
    val log = TableLog.open(root)
    def fe(p: String, k: Long) = TableLog.FileEntry(p, k, k, 1L)
    log.commit(Seq(TableLog.Add(fe("f0", 0L))), tag = "base")
    // append race: an intruder wins the claim mid-prepare — the
    // writer's first claim collides, it rebases and lands next
    var first = true
    val v = log.commitWithRetry("appender") { base =>
      if (first) { first = false
        log.commit(Seq(TableLog.Add(fe("intruder", 1L)))) }
      Seq(TableLog.Add(fe("mine", 2L)))
    }
    assert(v == 2L && log.latestVersion.contains(2L))
    // a relative entry is root-relative: snapshots serve it resolved
    assert(log.snapshot(2L).map(_.path).toSet ==
      Set("f0", "intruder", "mine").map(n => s"$root/$n"))
    // rewrite conflict: the intruder removes f0 first; blind retry
    // would double-apply the rewrite, so the loser must abort
    var first2 = true
    intercept[java.util.ConcurrentModificationException] {
      log.commitWithRetry("rewriter") { base =>
        if (first2) { first2 = false
          log.commit(Seq(TableLog.Remove("f0"),
            TableLog.Add(fe("theirs", 3L)))) }
        Seq(TableLog.Remove("f0"), TableLog.Add(fe("ours", 4L)))
      }
    }
    // the winner's rewrite stands; the loser published nothing
    assert(log.snapshot(log.latestVersion.get).map(_.path).toSet ==
      Set("intruder", "mine", "theirs").map(n => s"$root/$n"))
  }

  test("tagged commits are the streaming idempotence key: tagVersion " +
      "finds a batch's commit, unknown tags miss") {
    import SparkSpec.spark.implicits._
    val root = graft.Staging.scratch("tablelog_tags")
    val dataDir = s"$root/d0"
    Seq((7L, "x", 1.0)).toDF("event_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dataDir)
    val log = TableLog.open(root)
    val entries = TableLog.statsFor(spark, dataDir, "event_id",
      graft.sources.Io.io10Schema)
    log.commit(entries.map(TableLog.Add), tag = "b0")
    log.commit(Nil, tag = "b1")
    assert(log.tagVersion("b0").contains(0L))
    assert(log.tagVersion("b1").contains(1L))
    assert(log.tagVersion("b2").isEmpty)
    // tags SURVIVE the replay collapse: a checkpoint carries the tag
    // index of everything it folds, so a redelivered old batch is
    // still recognized (a miss here would let an overwrite-keyed
    // re-land delete files its own earlier commit references)
    log.checkpoint()
    log.commit(Nil, tag = "b2")
    assert(log.tagVersion("b0").contains(0L),
      "checkpoint swallowed an old batch tag")
    assert(log.tagVersion("b1").contains(1L))
    assert(log.tagVersion("b2").contains(2L))
    assert(log.tagVersion("b3").isEmpty)
  }

  test("txn-shaped tags (app@n) fold to ONE watermark row per app " +
      "in the checkpoint: presence survives the collapse, the " +
      "newest batch keeps its exact version, uncommitted future " +
      "batches miss, and checkpoint size stays O(apps)") {
    val root = graft.Staging.scratch("tablelog_txn")
    val log = TableLog.open(root)
    (0 until 20).foreach { i =>
      log.commit(Nil, tag = s"sink@$i")
      log.commit(Nil, tag = s"maintain@$i")
    }
    log.commit(Nil, tag = "clone") // a plain tag rides along exactly
    log.checkpoint()
    log.commit(Nil, tag = "sink@20")
    // presence below the checkpoint: every committed batch answers
    (0 until 20).foreach { i =>
      assert(log.committed(s"sink@$i"), s"sink@$i lost")
      assert(log.committed(s"maintain@$i"))
    }
    // the narrowed version contract: below the watermark only the
    // NEWEST batch has an exact version — older folded batches are
    // committed but answer NO version (an as-of-before read against
    // them can no longer silently target the wrong snapshot)
    assert(log.tagVersion("sink@5").isEmpty && log.committed("sink@5"))
    // the app's newest folded batch answers its EXACT version (the
    // as-of-before contract: a torn retry only ever asks about the
    // newest tag) — sink@19 committed at version 38
    assert(log.tagVersion("sink@19").contains(38L))
    assert(log.tagVersion("maintain@19").contains(39L))
    // above the checkpoint: exact from the commit scan
    assert(log.tagVersion("sink@20").contains(41L))
    // never-committed batches miss, per app
    assert(!log.committed("sink@21"))
    assert(!log.committed("maintain@20"))
    assert(!log.committed("other@0"))
    // plain tags keep the exact index
    assert(log.tagVersion("clone").contains(40L))
    // the fold is real: the checkpoint carries 2 txn rows + 1 plain
    // tag line, not 41 tag lines
    val ck = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "_log")).toArray
      .map(_.toString).filter(_.endsWith(".checkpoint"))
    assert(ck.length == 1)
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ck.head))).split("\n")
    assert(lines.count(_.startsWith("txn\t")) == 2,
      lines.filter(_.startsWith("txn\t")).mkString("|"))
    assert(lines.count(_.startsWith("tag\t")) == 1)
    // a SECOND checkpoint carries the watermark forward and folds
    // the new head batch into it
    log.checkpoint()
    val ck2 = java.nio.file.Files.list(
        java.nio.file.Paths.get(root, "_log")).toArray
      .map(_.toString).filter(_.endsWith(".checkpoint")).sorted.last
    val lines2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ck2))).split("\n")
    assert(lines2.count(_.startsWith("txn\t")) == 2)
    assert(log.tagVersion("sink@20").contains(41L))
    assert(log.committed("sink@5"))
  }
}
