package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.sources.TableLog
import graft.streaming.{StateTable, Streams}

/** A test-only `graftfs://` scheme: the local disk under another name.
  * Only the Hadoop FileSystem resolves it; a java.nio shortcut turns
  * `graftfs:///tmp/x` into a relative `graftfs:/tmp/x` under the working
  * directory, which [[FsSpec]] checks never appears.
  */
class GraftFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** `graft.Fs`'s contract on `file:` and on the `graftfs://` test
  * scheme: one winner per claimed path, an atomic replace that is never
  * absent or torn, and one cross-section of every durable root (a table
  * log, a state root, a RagIndex and their torn-write drills) that
  * behaves on the other scheme as it does locally. Plus what must not
  * be left behind (a stale `.crc` beside a replaced file, a stream
  * query's temp dirs), and the guard that keeps every filesystem call
  * behind `graft.Fs`.
  */
class FsSpec extends SparkSpec {
  spark.sparkContext.hadoopConfiguration
    .set("fs.graftfs.impl", classOf[GraftFs].getName)

  private def onGraftFs(tag: String): String =
    s"graftfs://${Staging.scratch(tag)}"

  private def localOf(p: String): java.nio.file.Path =
    java.nio.file.Paths.get(new java.net.URI(p).getPath)

  /** No java.nio shortcut resolved a graftfs:// path against the
    * working directory.
    */
  private def assertNoStray(): Unit =
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("graftfs:")),
      "a graftfs:// path was written through java.nio")

  /** Run `f(0..n-1)` on `n` threads released together. */
  private def race[T](n: Int)(f: Int => T): Seq[T] = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val out = new java.util.concurrent.ConcurrentHashMap[Int, Try[T]]()
    val ts = (0 until n).map(i => new Thread(() => {
      gate.await()
      out.put(i, Try(f(i)))
      ()
    }))
    ts.foreach(_.start())
    gate.countDown()
    ts.foreach(_.join())
    (0 until n).map(i => out.get(i).get)
  }

  test("putIfAbsent admits one winner among 8 racers, and writeAtomic " +
      "is never absent or torn under readers, on file: and graftfs://") {
    for (root <- Seq(Staging.scratch("fs_prims"), onGraftFs("fs_prims"))) {
      for (trial <- 0 until 25) {
        val target = s"$root/claim$trial"
        val wins = race(8)(i => Fs.putIfAbsent(target, s"writer $i"))
        assert(wins.count(identity) == 1, s"$root trial $trial: $wins")
        assert(Fs.read(target).contains(s"writer ${wins.indexOf(true)}"))
      }
      val p = s"$root/meta"
      Fs.writeAtomic(p, "a" * 4096)
      val bodies = Seq("a", "b").map(_ * 4096)
      val seen = race(2) {
        case 0 => (0 until 300).foreach(i => Fs.writeAtomic(p, bodies(i % 2))); 0
        case _ => (0 until 600).count(_ => !Fs.read(p).exists(bodies.contains))
      }
      assert(seen == Seq(0, 0), s"$root: reads saw an absent or torn file")
      // every writer's staging file is gone; none ever shows as data
      assert(Fs.list(root).map(_.name).forall(n => !n.endsWith(".tmp")))
    }
    assertNoStray()
  }

  test("TableLog on graftfs://: commits record root-relative entries, " +
      "time travel and vacuum work, a stray commit .tmp stays invisible " +
      "and a claimed version cannot be overwritten") {
    import SparkSpec.spark.implicits._
    val root = onGraftFs("fs_log")
    val v0 = (1L to 6L).map(i => (i, "a")).toDF("k", "s")
    val v1 = (1L to 3L).map(i => (i, "b")).toDF("k", "s")
    Graft.tableCommit(v0, root, "k")
    Graft.tableCommit(v1, root, "k", replace = true)
    val log = TableLog.open(root)
    assert(log.versions == Seq(0L, 1L))
    assert(log.read(spark, v0.schema, 0L).count() == 6L)
    assert(log.read(spark, v0.schema, 1L).count() == 3L)
    val commit0 = new String(java.nio.file.Files.readAllBytes(
      localOf(s"$root/_log/v000000000000.commit")), "UTF-8")
    val paths = commit0.split("\n").filter(_.startsWith("add\t")).map(_.split("\t")(1))
    assert(paths.nonEmpty && paths.forall(p => !p.startsWith("/") && !p.contains(":")),
      s"entries are not root-relative: ${paths.toSeq}")
    val gone = log.vacuum(retain = 1)
    assert(gone.nonEmpty && gone.forall(p => p.startsWith(s"$root/") &&
      !java.nio.file.Files.exists(localOf(p))))
    assert(log.read(spark, v0.schema, 1L).count() == 3L)
    // a crashed writer's staging files, both the old and the hidden form
    val logDir = localOf(s"$root/_log")
    for (n <- Seq("v000000000002.commit.tmp",
        s".v000000000002.commit.${java.util.UUID.randomUUID}.tmp"))
      java.nio.file.Files.write(logDir.resolve(n), "tag:torn".getBytes("UTF-8"))
    assert(TableLog.open(root).versions == Seq(0L, 1L))
    assert(log.commit(Nil, tag = "v2") == 2L)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      log.commit(Nil, tag = "loser", atVersion = Some(2L))
    }
    assert(TableLog.open(root).tagOf(2L) == "v2")
    assertNoStray()
  }

  test("a StateTable step, compact and reopen on graftfs:// serve what " +
      "the open table served") {
    import SparkSpec.spark.implicits._
    val root = onGraftFs("fs_state")
    val docs = (1L to 6L).map(i => (i, s"query term$i common words here"))
      .toDF("doc_id", "text")
    def serve(st: StateTable) =
      Streams.st14Serve(st, Seq("query", "common"), 5).collect().map(_.toSeq).toSeq
    val st = StateTable.open(spark, Streams.st14Family, Some(root))
    Streams.st14MaintainStep(st, docs)
    val served = serve(st)
    assert(served.nonEmpty)
    st.compact()
    assert(TableLog.open(root).latestVersion.isDefined,
      "compaction did not publish through the root's log")
    val reopened = StateTable.open(spark, Streams.st14Family, Some(root))
    assert(serve(reopened) == served)
    assertNoStray()
  }

  test("RagIndex build, add, remove and search on graftfs://: no removed " +
      "id comes back, each wave is one log version, and a stray file in a " +
      "partition dir is never served and is gone after the next wave") {
    import SparkSpec.spark.implicits._
    val root = onGraftFs("fs_rag")
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"repo/docs/d$i.md", "en",
      s"spark windows and joins guide number w$i with zanzibar notes"))
      .toDF("doc_id", "filepath", "lang", "text")
    val idx = Graft.ragIndex(docs(1L to 6L), "doc_id", "filepath", "lang",
      "text", stateRoot = Some(root))
    val log = TableLog.open(root)
    def hitDocs(): Set[Long] = idx.search("spark windows zanzibar", k = 20)
      .collect().map(_.getAs[Long]("chunk_id") / 1000000L).toSet
    assert(hitDocs().nonEmpty)
    assert(log.versions == Seq(0L))
    assert(idx.add(docs(7L to 8L), "doc_id", "filepath", "lang", "text") == 2L)
    assert(log.versions == Seq(0L, 1L), "the add is not one log version")
    assert(hitDocs().contains(7L))
    assert(idx.remove(Seq(2L, 7L)) == 2L)
    assert(log.versions == Seq(0L, 1L, 2L), "the remove is not one log version")
    val after = hitDocs()
    assert(after.nonEmpty && !after.contains(2L) && !after.contains(7L),
      s"removed ids served: $after")
    // what a crashed wave leaves: a parquet file, here holding a removed
    // doc, moved into a live partition dir but never committed
    val part = operators.Pipeline.snapshotOf(root).partsOf("routed").keys.head
    val staged = Staging.scratch("fs_rag_stray")
    Seq((2L, "spark windows zanzibar stray")).toDF("doc_id", "body")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val stray = localOf(s"$root/routed/$part/stray.parquet")
    java.nio.file.Files.move(java.nio.file.Files.list(
        java.nio.file.Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get, stray)
    Staging.release(staged)
    // a reader resolving the root afresh (another session's) never sees it
    val fresh = operators.Pipeline.servedAt(spark.newSession(), root)
    assert(fresh.tables("routed").filter($"doc_id" === 2L).count() == 0L)
    assert(hitDocs() == after)
    // the next wave's entry deletes it
    assert(idx.remove(Seq(999L)) == 0L)
    assert(!java.nio.file.Files.exists(stray), "the stray file survived a wave")
    assert(hitDocs() == after)
    assertNoStray()
  }

  test("writeAtomic drops a stale .crc, so a checksummed read of the " +
      "replaced file sees its new bytes") {
    val d = Staging.scratch("crc")
    try {
      val local = org.apache.hadoop.fs.FileSystem
        .getLocal(spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(s"$d/stamp")
      val out = local.create(p, true)
      try out.write("old\n".getBytes("UTF-8")) finally out.close()
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d, ".stamp.crc")))
      Fs.writeAtomic(s"$d/stamp", "a longer, newer body\n")
      val in = local.open(p)
      try assert(new String(in.readAllBytes(), "UTF-8") == "a longer, newer body\n")
      finally in.close()
    } finally Staging.release(d)
  }

  test("a stream query's write dirs go once their files land, and its " +
      "staged and sink dirs are held for the exit cleanup") {
    val d = Staging.scratch("docs_src")
    def count(prefix: String): Int = {
      val s = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try s.filter(_.getFileName.toString.startsWith(prefix)).count().toInt
      finally s.close()
    }
    val prefixes = Seq("graft_stage_out_", "graft_stream_", "graft_st12_out_")
    try {
      Fs.copy(s"$sf/documents.parquet", s"$d/documents.parquet")
      val (before, keys0) = (prefixes.map(count), Staging.scratchKeys)
      assert(Streams.st12StreamOverlapScrub(Tables(spark, d)).count() > 0L)
      assert(prefixes.map(count).zip(before).map { case (a, b) => a - b } ==
        Seq(0, 1, 1))
      assert(Staging.scratchKeys - keys0 == 2)
    } finally Staging.release(d)
  }

  test("java.nio.file and getFileSystem appear only behind graft.Fs") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val banned = "java\\.nio\\.file|getFileSystem".r
    val allowed = Seq(Seq("graft", "Fs.scala"), Seq("graft", "Bench.scala"),
      Seq("graft", "BenchPrior.scala"), Seq("graft", "Verify.scala"))
      .map(p => java.nio.file.Paths.get(p.head, p.tail: _*))
    // executor tasks of the zip staging resolve the archive's filesystem
    // from a broadcast conf: no session there
    val executorLookup = "val fs = p.getFileSystem(hconf.value)"
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(f => allowed.exists(f.endsWith))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).isDefined &&
                !(f.endsWith(java.nio.file.Paths.get("graft", "operators",
                  "Ingest.scala")) && line.trim == executorLookup) =>
              s"$f:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty,
      "go through graft.Fs for durable paths:\n" + hits.mkString("\n"))
  }

  test("committed towers tables are read from the head snapshot, never " +
      "by directory") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    // `spark.read.parquet(s"$d/tf")` and the like; `$w` is a wave's own
    // staging dir, which the wave reads before it publishes
    val byDir = ("""\.parquet\(s"\$\{?(\w+)\}?/""" +
      """(routed|chunks|tf|tf_b|idf|stats|enc|enc_ivf)"\)""").r
    val walk = java.nio.file.Files.walk(root)
    val hits =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.flatMap {
            case (line, i) => byDir.findAllMatchIn(line)
              .filter(_.group(1) != "w").map(_ => s"$f:${i + 1}: ${line.trim}")
          }
        }.toList
      finally walk.close()
    assert(hits.isEmpty,
      "read committed towers tables through Pipeline.snapshotOf:\n" +
        hits.mkString("\n"))
  }
}
