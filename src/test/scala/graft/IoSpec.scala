package graft

import org.apache.spark.sql.functions._

/** Sink-maintenance operators: upsert merge semantics and compaction
  * file-count behavior (the content gates live in the DuckDB oracle).
  */
class IoSpec extends SparkSpec {

  test("io4 upsert: updates win, inserts land, untouched keys unchanged") {
    val t = Tables(spark, sf)
    val agg = run("io4_upsert_merge").collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Long]("n"), r.getAs[Long]("max_key"))).toMap
    val orders = t.orders.select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getAs[Long](0) -> r.getAs[String](1))
    val nUpd = orders.count(_._1 % 10 == 0)
    val nIns = orders.count(_._1 % 25 == 0)
    // every updated key reports status 'U', every insert 'N'
    assert(agg("U")._1 == nUpd)
    assert(agg("N")._1 == nIns)
    // inserts carry the collision-proof NEGATIVE keys (-(k+1))
    assert(agg("N")._2 < 0)
    // untouched rows keep their original statuses and total count holds
    val untouched = orders.filter(_._1 % 10 != 0)
    untouched.groupBy(_._2).foreach { case (status, rows) =>
      assert(agg(status)._1 == rows.length, s"status $status")
    }
    assert(agg.values.map(_._1).sum == untouched.length + nUpd + nIns)
  }

  test("io6 schema evolution: legacy rows null-filled, evolved counts exact") {
    val t = Tables(spark, sf)
    val rows = run("io6_schema_evolution").collect()
    val byPri = rows.map(r => r.getAs[String]("priority") -> r).toMap
    val orders = t.orders.select("o_orderkey").collect().map(_.getAs[Long](0))
    // every even key was written WITHOUT the column → LEGACY, 0 evolved
    assert(byPri("LEGACY").getAs[Long]("n") == orders.count(_ % 2 == 0))
    assert(byPri("LEGACY").getAs[Long]("n_evolved") == 0)
    // every non-legacy group carries the column on every row
    byPri.removed("LEGACY").values.foreach { r =>
      assert(r.getAs[Long]("n") == r.getAs[Long]("n_evolved"))
    }
    // nothing lost or duplicated across the two generations
    assert(rows.map(_.getAs[Long]("n")).sum == orders.length)
  }

  test("io7 time travel: v0 snapshot intact after merge, deltas match changeset") {
    val t = Tables(spark, sf)
    val rows = run("io7_time_travel").collect()
    val by = rows.map(r => r.getAs[String]("o_orderstatus") -> r).toMap
    val orders = t.orders.select("o_orderkey", "o_orderstatus").collect()
      .map(r => (r.getAs[Long](0), r.getAs[String](1)))
    // the OLD snapshot still serves its pre-merge counts
    orders.groupBy(_._2).foreach { case (s, rs) =>
      assert(by(s).getAs[Long]("n_v0") == rs.length, s"status $s")
    }
    // statuses born in v1 have no v0 presence and changeset-sized deltas
    assert(by("U").getAs[Long]("n_v0") == 0)
    assert(by("U").getAs[Long]("n_delta") == orders.count(_._1 % 10 == 0))
    assert(by("N").getAs[Long]("n_v0") == 0)
    assert(by("N").getAs[Long]("n_delta") == orders.count(_._1 % 25 == 0))
    // v1 row total = v0 + inserts (updates replace, inserts add)
    assert(rows.map(_.getAs[Long]("n_v1")).sum ==
      orders.length + orders.count(_._1 % 25 == 0))
  }

  test("io8 change feed: exact insert/update/delete partition of the changed keys") {
    val t = Tables(spark, sf)
    val rows = run("io8_change_feed").collect()
    val keys = t.orders.select("o_orderkey").collect().map(_.getAs[Long](0))
    val byChange = rows.groupBy(_.getAs[String]("change"))
    // inserts = synthesized negative keys (%25 clones), never erased
    assert(byChange("insert").length == keys.count(_ % 25 == 0))
    assert(byChange("insert").forall { r =>
      r.getAs[Long]("o_orderkey") < 0 &&
        r.getAs[String]("status_old") == "NONE" &&
        r.getAs[String]("status_new") == "N"
    })
    // deletes = the erasure pass (real keys ≡ 0 mod 50)
    assert(byChange("delete").length == keys.count(_ % 50 == 0))
    assert(byChange("delete").forall(_.getAs[String]("status_new") == "NONE"))
    // updates = merged keys (%10) that survived erasure (not %50)
    assert(byChange("update").length ==
      keys.count(k => k % 10 == 0 && k % 50 != 0))
    byChange("update").foreach { r =>
      assert(r.getAs[String]("status_new") == "U")
      assert(math.abs(r.getAs[Double]("price_new") -
        r.getAs[Double]("price_old") - 1000.0) < 1e-9)
    }
    assert(rows.length == byChange.values.map(_.length).sum)
  }

  test("io9 OPTIMIZE ZORDER: a 2-D box plans log-first to a strict " +
      "file subset (≥2× pruning), answer intact, landing reclaimed") {
    val t = Tables(spark, sf)
    run("io9_zorder").collect() // builds the staged log
    val log = graft.sources.Io.zorderedLog(t)
    // lifecycle: unclustered landing (v0) → tagged ZORDER rewrite
    // (v1) → vacuum reclaimed the landing bytes
    assert(log.versions == Seq(0L, 1L))
    assert(log.tagVersion("zorder").contains(1L))
    val landed = log.snapshot(0L).map(_.path)
    assert(landed.forall(p => !java.nio.file.Files.exists(
      java.nio.file.Paths.get(new java.net.URI(p).getPath))),
      "vacuum left the dead unclustered landing on disk")
    // a selective 2-D box that stays inside ONE z-octant (fractions
    // 0.55–0.70 of both normalized ranges keep the top interleaved
    // bits constant — a box straddling a dimension's midpoint would
    // legitimately touch many z-ranges, the curve's known weakness)
    val ev = t.events.select("event_id", "user_id", "value")
    val (u0, u1, v0, v1) = {
      val r = ev.agg(
        min(col("user_id")).cast("double"), max(col("user_id")).cast("double"),
        min(col("value")), max(col("value"))).head()
      val (ulo, uhi, vlo, vhi) =
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      (ulo + 0.55 * (uhi - ulo), ulo + 0.70 * (uhi - ulo),
        vlo + 0.55 * (vhi - vlo), vlo + 0.70 * (vhi - vlo))
    }
    // LOG-FIRST PLANNING: the 2-D predicate maps to one z-interval
    // (corner z-values), and the log's per-file z-stats prune to the
    // files intersecting it — pure metadata, no footer opened
    val (zLo, zHi) = graft.sources.Io.zorderRange(
      ev, "user_id", "value", u0, u1, v0, v1)
    val head = log.latestVersion.get
    val admitted = log.prunedFiles(head, zLo, zHi)
    val total = log.snapshot(head).length
    assert(admitted.nonEmpty && admitted.length * 2 <= total,
      s"log admitted ${admitted.length} of $total files — under 2× pruning")
    // the pruned plan's answer equals the full-scan answer exactly
    val sch = graft.sources.Io.io9Schema
    def boxIds(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.filter(col("user_id") >= u0 && col("user_id") <= u1 &&
          col("value") >= v0 && col("value") <= v1)
        .select("event_id").collect().map(_.getLong(0)).sorted
    val pruned = boxIds(log.prunedRead(spark, sch, head, zLo, zHi))
    val full = boxIds(log.read(spark, sch, head))
    assert(pruned.sameElements(full) && full.nonEmpty,
      "log-pruned box answer diverges from the full scan")
  }

  test("zorderRange's scalar corner math agrees with zorderOf's " +
      "Column path bit-for-bit (the pruning bound's coupling law)") {
    val session2 = spark
    import session2.implicits._
    // extreme rows pin the normalization bounds; rows 3/4 sit exactly
    // on the box corners, so their Column-path zvals must equal the
    // scalar corner bounds — any divergence in the normalize or
    // interleave math breaks this before it can mis-prune a file
    val df = Seq((1L, 0L, 0.0), (2L, 1000L, 10.0),
      (3L, 550L, 5.5), (4L, 700L, 7.0))
      .toDF("event_id", "user_id", "value")
    val z = graft.sources.Io.zorderOf(df, "user_id", "value")
      .select("event_id", "zval").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (zLo, zHi) = graft.sources.Io.zorderRange(
      df, "user_id", "value", 550.0, 700.0, 5.5, 7.0)
    assert(zLo == z(3L) && zHi == z(4L),
      s"scalar corners ($zLo, $zHi) != Column path (${z(3L)}, ${z(4L)})")
    assert(zLo <= zHi && z(1L) <= zLo && zHi <= z(2L))
  }

  test("io10 stats manifest: range query opens a strict file subset, " +
      "answer equals the full scan") {
    val t = Tables(spark, sf)
    val (files, total) = graft.sources.Io.io10PrunedFiles(t, 100L, 399L)
    assert(files.nonEmpty && files.length < total,
      s"pruned ${files.length} of $total files — no skipping")
    // the pruned answer must equal the unpruned one, row for row
    val pruned = run("io10_stats_manifest").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = t.events
      .filter(col("event_id").between(100L, 399L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(pruned.sameElements(full))
    // a disjoint range prunes everything
    val (none, _) = graft.sources.Io.io10PrunedFiles(t, -5000L, -4000L)
    assert(none.isEmpty)
  }

  test("io5 compaction: file count shrinks to the metadata-sized target") {
    val t = Tables(spark, sf)
    assert(run("io5_compaction").count() == 500)
    val small = graft.sources.Io.stagedDir(t, "small_files").get
    val compacted = graft.sources.Io.stagedDir(t, "compacted").get
    def parquetFiles(dir: String) =
      graft.Fs.list(dir).filter(_.name.endsWith(".parquet"))
    val nSmall = parquetFiles(small).size
    val nCompact = parquetFiles(compacted).size
    assert(nSmall == 64, s"staged $nSmall shards")
    assert(nCompact < nSmall)
    val bytes = parquetFiles(small).map(_.len).sum
    assert(nCompact ==
      graft.sources.Io.compactionFileCount(small, 8L << 20))
    assert(bytes > 0)
  }
}
