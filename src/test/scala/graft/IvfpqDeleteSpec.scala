package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.sources.Tables

/** Delete path for the persisted IVFPQR index (round-17 verdict #1) —
  * the reference's `unset` on a BUILT store
  * (/root/reference/src/bare_hash_container.h:150-179 backshift delete;
  * src/concurrent_map.h:50) re-expressed as tombstones over the
  * cell-partitioned codes table:
  *
  *  1. delete ≡ never-inserted: the tombstoned scan equals, row for
  *     row, the scan over an index whose codes were encoded WITHOUT the
  *     deleted vectors — removal from service is exact, not
  *     best-effort.
  *  2. tombstones route to the stored cells: the tombstone build
  *     re-assigns the deleted vectors through the frozen centroids, and
  *     must land on EXACTLY the cells their codes occupy — the property
  *     that makes the cell-local anti-join lossless.
  *  3. deletion is visible: on the driver fixture some deleted vector
  *     sits in a probe's served top-5, so the delete query's output
  *     differs from the append query's — the declared instance
  *     exercises the verb, not a no-op.
  *  4. the per-cell balance audit separates what the global drift guard
  *     cannot: a delta batch drawn from the training distribution but
  *     PILED INTO ONE CELL keeps the corpus-mean quantization error
  *     flat (guard false) while the audit flags exactly that cell hot.
  */
class IvfpqDeleteSpec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$what differ: ${extraA} rows only in left, ${extraB} only in right")
  }

  test("delete == never-inserted: tombstoned scan equals the scan over codes encoded without the deleted vectors") {
    val (_, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val got = SimilarityQueries.simIvfPqDeleteTopk(spark, sfDir).collect()
    assert(got.nonEmpty)
    val emb = Tables.embeddings(spark, sfDir)
    val survivors = emb.filter(
      pmod(col("vec_id"), lit(SimilarityQueries.AppendMod)) =!=
        SimilarityQueries.DeleteResidue)
    val neverInserted = SimilarityQueries.ivfpqEncodeFrozenQ(
      graft.operators.KMeans.quantize(survivors), cellsT, cbT)
    val dtab = SimilarityQueries.ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
    val want = SimilarityQueries.rerankRefine(spark, sfDir,
      SimilarityQueries.ivfpqCandidates(neverInserted, dtab,
        SimilarityQueries.RerankShortlist)).collect()
    assert(got.toSeq == want.toSeq,
      "tombstoned scan diverged from the never-inserted index's scan")
  }

  test("tombstones land on exactly the stored cells of the deleted vectors") {
    val (codes, _, _) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val tomb = SimilarityQueries.ivfpqTombstones(spark, sfDir)
      .select("vec_id", "cell")
    assert(tomb.count() > 0)
    val stored = codes.filter(
        pmod(col("vec_id"), lit(SimilarityQueries.AppendMod)) ===
          SimilarityQueries.DeleteResidue)
      .select("vec_id", "cell").distinct()
    assertSameRows(tomb, stored, "tombstone (vec_id, cell) vs stored codes")
  }

  test("deletion is visible: the delete scan differs from the append scan and serves no deleted id") {
    val appended = SimilarityQueries.simIvfPqAppendTopk(spark, sfDir).collect()
    val deleted = SimilarityQueries.simIvfPqDeleteTopk(spark, sfDir).collect()
    assert(deleted.nonEmpty)
    assert(deleted.forall(r =>
        r.getAs[Long]("cand_id") % SimilarityQueries.AppendMod !=
          SimilarityQueries.DeleteResidue),
      "a deleted vector is still served")
    assert(appended.toSeq != deleted.toSeq,
      "the deletion set touches no probe's top-5 — the declared instance is a no-op")
  }

  /** Hot-cell fixture: 8 identical-point anchors (exact Lloyd
    * fixpoints, the IvfpqAppendSpec construction), base skewed so cell
    * 0 holds 16 of 90 base vectors, and the ENTIRE 10-vector delta is
    * the cell-0 anchor. Every vector equals its centroid, so both
    * sides' quantization error is zero and the global drift guard reads
    * false — while cell 0's admitted count (26 of 100, 26·8 = 208 >
    * 2·100) trips the per-cell hot verdict. */
  private lazy val hotCellDir: String = {
    val dir = tempDir("graft-hotcell")
    def anchor(k: Int): Array[Float] =
      Array.tabulate(64)(d => if (d / 8 == k) 1.0f else 0.0f)
    val nonSeedBase = (8 until 100).filter(_ % 10 != 9)
    val anchorOf: Map[Long, Int] =
      ((0 until 8).map(i => i.toLong -> i) ++
        nonSeedBase.zipWithIndex.map { case (id, r) =>
          id.toLong -> (if (r < 15) 0 else 1 + (r % 7)) } ++
        (0 until 100).filter(_ % 10 == 9).map(_.toLong -> 0)).toMap
    val rows = (0 until 100).map(i => (i.toLong, anchor(anchorOf(i.toLong)), i % 8))
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("cell audit flags a hot-cell delta the global drift guard passes") {
    val guard = SimilarityQueries.simIvfPqDriftGuard(spark, hotCellDir).head
    assert(!guard.getAs[Boolean]("retrain_needed"),
      s"zero-error piled delta tripped the GLOBAL guard: $guard")
    val stats = SimilarityQueries.simIvfPqCellStats(spark, hotCellDir).collect()
    assert(stats.length == 8, s"expected 8 cells, got ${stats.length}")
    val hot = stats.filter(_.getAs[Boolean]("is_hot")).map(_.getAs[Long]("cell"))
    assert(hot.toSeq == Seq(0L),
      s"hot set ${hot.toSeq} != Seq(0) — the piled cell must be the one flagged")
    val cell0 = stats.find(_.getAs[Long]("cell") == 0L).get
    assert(cell0.getAs[Long]("n_vectors") == 26L &&
        cell0.getAs[Long]("n_total") == 100L,
      s"fixture arithmetic drifted: $cell0")
  }

  test("declared cell stats: every admitted vector counted once, totals consistent") {
    val stats = SimilarityQueries.simIvfPqCellStats(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(stats.map(_.getAs[Long]("n_vectors")).sum == n,
      "per-cell counts do not sum to the admitted corpus")
    assert(stats.forall(_.getAs[Long]("n_total") == n))
    assert(stats.forall(_.getAs[Long]("n_cells") == stats.length))
  }
}
