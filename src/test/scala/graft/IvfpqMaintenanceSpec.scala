package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.sources.Tables

/** The index-MAINTENANCE verbs of round 18 — compaction (the reference's
  * backshift-delete reclaim, /root/reference/src/bare_hash_container.h:
  * 150-179, made durable for immutable files) and cell split (the
  * reference's grow-on-load-factor rehash, :135-148, as the PARTIAL
  * retrain the per-cell audit signals):
  *
  *  1. compaction ≡ delete ≡ never-inserted: the compacted table serves
  *     exactly the tombstone-anti-joined rows, with no anti-join left in
  *     the plan — the filter became the storage layout.
  *  2. dynamic partition overwrite is surgical: a partition absent from
  *     the incoming write is not rewritten — its files (name, size,
  *     mtime) survive byte-identical. This is the mechanism that bounds
  *     both verbs' cost to the TOUCHED partitions.
  *  3. split preserves membership and bytes outside the split region:
  *     non-parent cells' codes are row-identical; the parent's members
  *     are exactly the two children's union.
  *  4. split balances: each child strictly smaller than the parent on
  *     the declared fixture; on a planted two-sub-cluster pile the
  *     2-means recovers the sub-clusters exactly.
  *  5. probes routed to unsplit cells are untouched: their declared
  *     post-split top-5 equals the append query's.
  *  6. the gc audit triggers exactly where garbage concentrates.
  */
class IvfpqMaintenanceSpec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$what differ: ${extraA} rows only in left, ${extraB} only in right")
  }

  /** A cell wholly inside the delete set: seed vec 4 and ids 14, 24, 34
    * (all ≡ 4 mod 10) sit at one remote point, so the cell trained on
    * seed 4 holds exactly them; every other vector sits on one of the
    * remaining seven anchors. Compaction must leave that cell empty. */
  private lazy val deletedCellDir: String = {
    val dir = tempDir("graft-deleted-cell")
    def anchor(k: Int): Array[Float] =
      Array.tabulate(64)(d => if (d / 8 == k) 1.0f else 0.0f)
    val remote = Array.fill(64)(-1.0f)
    val others = Seq(0, 1, 2, 3, 5, 6, 7)
    def vecOf(i: Int): Array[Float] =
      if (Set(4, 14, 24, 34)(i)) remote
      else if (i < 8) anchor(i)
      else anchor(others(i % 7))
    val sp = spark
    import sp.implicits._
    (0 until 100).map(i => (i.toLong, vecOf(i), i % 8))
      .toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("compaction == delete == never-inserted, with no tombstoned row left in storage") {
    for (dir <- Seq(sfDir, deletedCellDir)) compactionMatchesDelete(dir)
  }

  private def compactionMatchesDelete(dir: String): Unit = {
    val (codes, _, _) = SimilarityQueries.ivfpqAppendPersisted(spark, dir)
    val gc = SimilarityQueries.ivfpqCompactedCodes(spark, dir)
    val tomb = SimilarityQueries.ivfpqTombstones(spark, dir)
    // Storage-level: gc == codes ⟕̸ tombstones (the anti-join, applied).
    val live = codes.join(
      tomb.select(col("vec_id").as("t_id"), col("cell").as("t_cell")),
      col("cell") === col("t_cell") && col("vec_id") === col("t_id"),
      "left_anti")
    assertSameRows(gc.select("vec_id", "cell", "m", "code"),
      live.select("vec_id", "cell", "m", "code"), "compacted vs live rows")
    assert(gc.count() == codes.count() - 8L * tomb.count(),
      "compaction reclaimed a different mass than 8 rows per tombstone")
    // Service-level: the declared compact scan equals the declared
    // delete scan row for row — the filter moved, the answer did not.
    val compacted = SimilarityQueries.simIvfPqCompactTopk(spark, dir).collect()
    val deleted = SimilarityQueries.simIvfPqDeleteTopk(spark, dir).collect()
    assert(compacted.nonEmpty)
    assert(compacted.toSeq == deleted.toSeq,
      "post-compaction scan diverged from the tombstone-anti scan")
  }

  test("dynamic partition overwrite rewrites ONLY the partitions present in the write") {
    val dir = tempDir("graft-dynow") + "/t"
    val sp = spark
    import sp.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"))
      .toDF("id", "v", "p")
      .write.partitionBy("p").parquet(dir)
    def files(part: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/p=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    }
    val before = files("b")
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
    try Seq((9L, 90L, "a")).toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert(files("b") == before,
      "partition b was rewritten by an overwrite that carried only partition a")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("p") === "a").select("id").as[Long].collect()
        .toSeq == Seq(9L), "partition a was not replaced")
    assert(after.count() == 2L)
  }

  test("split preserves membership; non-parent cells are row-identical; children partition the parent") {
    val (codes0, _, _) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val (codes2, cells2) = SimilarityQueries.ivfpqSplitTables(spark, sfDir)
    assert(cells2.count() == 9L, "split cells table must gain exactly one row")
    val parent = codes0.filter(col("m") === 0L)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("cell")).limit(1)
      .collect().head.getAs[Long]("cell")
    // Membership: same vectors served, same 8 rows per vector.
    assert(codes2.count() == codes0.count())
    assertSameRows(codes2.select("vec_id").distinct(),
      codes0.select("vec_id").distinct(), "served vec_id sets")
    // Outside the split region: bytes unchanged.
    assertSameRows(
      codes2.filter(col("cell") =!= parent &&
        col("cell") =!= SimilarityQueries.SplitCellId),
      codes0.filter(col("cell") =!= parent), "non-parent cells' codes")
    // Inside: the children's members are exactly the parent's.
    assertSameRows(
      codes2.filter(col("cell") === parent ||
          col("cell") === SimilarityQueries.SplitCellId)
        .select("vec_id").distinct(),
      codes0.filter(col("cell") === parent).select("vec_id").distinct(),
      "split-region membership")
    // Balance: both children non-empty and strictly below the parent.
    val childCounts = codes2.filter(col("m") === 0L)
      .filter(col("cell") === parent ||
        col("cell") === SimilarityQueries.SplitCellId)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    val parentCount = codes0.filter(col("m") === 0L)
      .filter(col("cell") === parent).count()
    assert(childCounts.length == 2, s"expected 2 children, got ${childCounts.length}")
    assert(childCounts.forall(c => c > 0 && c < parentCount),
      s"children ${childCounts.toSeq} do not split parent load $parentCount")
  }

  test("probes routed to unsplit cells see identical service after the split") {
    val (_, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val (_, cells2) = SimilarityQueries.ivfpqSplitTables(spark, sfDir)
    val parent = {
      // The one cell id present in the append cells table whose centroid
      // changed or vanished: derive from the two tables' difference.
      val oldCells = cellsT.select("cluster", "c").collect()
        .map(r => r.getAs[Long]("cluster") -> r.getSeq[Long](1)).toMap
      val newCells = cells2.select("cluster", "c").collect()
        .map(r => r.getAs[Long]("cluster") -> r.getSeq[Long](1)).toMap
      oldCells.keys.filter(k => newCells.get(k) != oldCells.get(k)).toSeq match {
        case Seq(p) => p
        case other => fail(s"expected exactly one re-centered cell, got $other")
      }
    }
    val routedOld = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
      .select("probe_id", "pcell").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val untouchedProbes = routedOld.filter(_._2 != parent).keys.toSet
    assert(untouchedProbes.nonEmpty,
      "every probe routes into the split cell; the invariance arm is vacuous")
    val before = SimilarityQueries.simIvfPqAppendTopk(spark, sfDir).collect()
      .filter(r => untouchedProbes(r.getAs[Long]("probe_id")))
    val after = SimilarityQueries.simIvfPqCellSplit(spark, sfDir).collect()
      .filter(r => untouchedProbes(r.getAs[Long]("probe_id")))
    assert(before.toSeq == after.toSeq,
      "a probe routed to an unsplit cell changed its top-5 after the split")
  }

  /** Two-sub-cluster pile: 8 anchor blocks; cell 0 holds 23 members at
    * exactly TWO distinct points (a = anchor 0; b = a + 0.5 in dim 1 —
    * inside cell 0's Voronoi region against the other anchors), ids 8,
    * 10, …, 28 at b and 0, 9, 11, …, 29 at a, so the split's seeds
    * (the two smallest member ids 0 and 8) start one on each
    * sub-cluster. Remaining ids spread across anchors 1–7 (≤ 11 per
    * cell, so cell 0's 23 is the argmax parent). The exact 2-means must
    * recover the sub-clusters: children of sizes {12, 11}. */
  private lazy val subClusterDir: String = {
    val dir = tempDir("graft-subcluster")
    def anchor(k: Int): Array[Float] =
      Array.tabulate(64)(d => if (d / 8 == k) 1.0f else 0.0f)
    val b = { val v = anchor(0); v(1) = v(1) + 0.5f; v }
    def vecOf(i: Int): Array[Float] =
      if (i == 0) anchor(0)
      else if (i < 8) anchor(i)
      else if (i <= 29) { if (i % 2 == 0) b else anchor(0) }
      else anchor(1 + i % 7)
    val sp = spark
    import sp.implicits._
    (0 until 100).map(i => (i.toLong, vecOf(i), i % 8))
      .toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("split recovers planted sub-clusters inside the hot cell exactly") {
    val (codes2, cells2) = SimilarityQueries.ivfpqSplitTables(spark, subClusterDir)
    assert(cells2.count() == 9L)
    val loads = codes2.filter(col("m") === 0L)
      .filter(col("cell") === 0L ||
        col("cell") === SimilarityQueries.SplitCellId)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n")).toMap
    assert(loads.values.toSeq.sorted == Seq(11L, 12L),
      s"children loads $loads != the planted {12, 11} sub-clusters")
    // And the membership is exactly the sub-cluster partition: child at
    // the parent's id seeds from vec 0 (sub-cluster a = odd ids + 0),
    // the minted child from vec 8 (sub-cluster b = even ids 8..28).
    val bIds = codes2.filter(col("m") === 0L &&
        col("cell") === SimilarityQueries.SplitCellId)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(bIds == (8 to 28 by 2).map(_.toLong).toSet,
      s"minted child's members $bIds are not the planted b sub-cluster")
  }

  test("gc audit: totals consistent on the declared fixture; flags exactly the piled cell on a planted one") {
    val stats = SimilarityQueries.simIvfPqGcStats(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    val nDel = Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(SimilarityQueries.AppendMod)) ===
        SimilarityQueries.DeleteResidue).count()
    assert(stats.map(r => r.getAs[Long]("n_live") + r.getAs[Long]("n_tomb")).sum == n)
    assert(stats.map(_.getAs[Long]("n_tomb")).sum == nDel)
    stats.foreach { r =>
      val (live, tombN) = (r.getAs[Long]("n_live"), r.getAs[Long]("n_tomb"))
      assert(r.getAs[Boolean]("needs_gc") == (5 * tombN > live + tombN),
        s"verdict inconsistent with counts at $r")
    }
    // Planted concentration: deletions (vec_id ≡ 4 mod 10, ids ≥ 8) all
    // sit at anchor 0, so cell 0's stored set is {0, 14, 24, …, 94} —
    // 10 rows, 9 of them garbage (id 4 is the anchor-4 seed, deleted
    // from cell 4). 45 > 10 trips cell 0; cell 4 stays below threshold.
    val dir = tempDir("graft-garbage")
    def anchor(k: Int): Array[Float] =
      Array.tabulate(64)(d => if (d / 8 == k) 1.0f else 0.0f)
    def vecOf(i: Int): Array[Float] =
      if (i < 8) anchor(i)
      else if (i % 10 == 4) anchor(0)
      else anchor(1 + i % 7)
    val sp = spark
    import sp.implicits._
    (0 until 100).map(i => (i.toLong, vecOf(i), i % 8))
      .toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = SimilarityQueries.simIvfPqGcStats(spark, dir).collect()
    val flagged = planted.filter(_.getAs[Boolean]("needs_gc"))
      .map(_.getAs[Long]("cell"))
    assert(flagged.toSeq == Seq(0L),
      s"gc flags ${flagged.toSeq} != Seq(0) — garbage concentrated in cell 0")
    val cell0 = planted.find(_.getAs[Long]("cell") == 0L).get
    assert(cell0.getAs[Long]("n_tomb") == 9L && cell0.getAs[Long]("n_live") == 1L,
      s"planted arithmetic drifted: $cell0")
  }
}
