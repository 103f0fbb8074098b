package graft

import org.apache.spark.sql.functions._

/** Pins `dedup_semdedup`'s semantics on a planted-clique fixture where
  * every verdict is closed-form (the PqSpec planted-prototype doctrine):
  *
  *  - 8 BLOCK-ORTHOGONAL prototypes (dims 8p..8p+7 = 1.0, else 0) as the
  *    seed vectors (vec_id 0..7). Cross-block dot products are exactly 0,
  *    so no qualifying pair (`dot > 0` fails) ever crosses cells — family
  *    isolation is structural, not statistical.
  *  - Families planted on prototypes 0..3: members 100+10p+j (j = 0,1,2)
  *    perturb proto p by exactly j millunits on dim 8p, so cdist = j²
  *    exactly and within-family cosines are ≈ 1 ≫ τ = 0.3: each family —
  *    INCLUDING its seed — is one qualifying clique.
  *  - Seeds 4..7 stay singletons (no members, orthogonal to everything
  *    else): kept, trivially.
  *
  * In a qualifying clique the keep-farthest rule leaves exactly ONE
  * survivor — the lexicographic max of (cdist, vec_id): every other
  * member loses at least the pair against that max. Here that is the
  * j = 2 member (cdist 4). The seed (cdist 0) loses its tie against the
  * j = 0 exact copy (cdist 0 = 0, lower id drops), pinning the id
  * tie-break too. */
class SemDedupSpec extends SparkSpec {

  import spark.implicits._

  private def proto(p: Int): Seq[Float] =
    (0 until 64).map(i => if (i / 8 == p) 1.0f else 0.0f)

  private def perturb(v: Seq[Float], dim: Int, millunits: Int): Seq[Float] =
    v.updated(dim, v(dim) + millunits * 0.001f)

  test("planted cliques: one keep-farthest survivor each, exact cdist, id tie-break") {
    val rows =
      (0 until 8).map(p => (p.toLong, proto(p))) ++
      (for (p <- 0 until 4; j <- 0 until 3)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), p * 8, j)))
    val dir = tempDir("graft-sdd")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.DedupQueries.dedupSemdedup(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(out.size == rows.size)
    for ((id, _) <- rows) {
      val famP = if (id < 8) id.toInt else ((id - 100) / 10).toInt
      val (cluster, cdist, kept) = out(id)
      assert(cluster == famP, s"vector $id assigned to cell $cluster, not $famP")
      val expectedCdist = if (id < 8) 0L else { val j = (id - 100) % 10; j * j }
      assert(cdist == expectedCdist,
        s"vector $id cdist $cdist != $expectedCdist")
      val expectedKept =
        if (id >= 4 && id < 8) true                 // singleton seeds
        else if (id >= 100 && id % 10 == 2) true    // clique max (cdist 4)
        else false                                  // seed 0..3 / j = 0,1
      assert(kept == expectedKept,
        s"vector $id kept=$kept, expected $expectedKept")
    }
  }

  test("trained cells: same verdicts as the seeded form, cdist = distance to the Lloyd mean") {
    // Same planted-clique fixture as the seeded test; dedup_semdedup_trained
    // replaces the member-vector cell seeds with two-Lloyd-round k-means
    // centroids. On block-orthogonal families Lloyd keeps every family in
    // its own cluster (assignment is block-local at every round), so the
    // qualifying cliques — and with them the keep verdicts — are IDENTICAL
    // to the seeded form's; what changes is cdist, now the mixed-scale
    // micro² distance to the family's floor-mean centroid, closed-form:
    // family members sit at 1000/1000/1001/1002 millunits on dim 8p, the
    // mean is exactly 1000750 micro, so cdists are 750², 750², 250², 1250².
    val rows =
      (0 until 8).map(p => (p.toLong, proto(p))) ++
      (for (p <- 0 until 4; j <- 0 until 3)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), p * 8, j)))
    val dir = tempDir("graft-sddt")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.DedupQueries.dedupSemdedupTrained(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(out.size == rows.size)
    for ((id, _) <- rows) {
      val famP = if (id < 8) id.toInt else ((id - 100) / 10).toInt
      val (cluster, cdist, kept) = out(id)
      assert(cluster == famP, s"vector $id assigned to cell $cluster, not $famP")
      val expectedCdist =
        if (id >= 4 && id < 8) 0L // singleton cluster: centroid = itself
        else if (id < 4 || id % 10 == 0) 562500L // 750² off the mean
        else if (id % 10 == 1) 62500L            // 250²
        else 1562500L                            // 1250²
      assert(cdist == expectedCdist,
        s"vector $id cdist $cdist != $expectedCdist")
      val expectedKept =
        if (id >= 4 && id < 8) true                 // singleton seeds
        else if (id >= 100 && id % 10 == 2) true    // clique max (1250²)
        else false
      assert(kept == expectedKept,
        s"vector $id kept=$kept, expected $expectedKept")
    }
  }

  test("the cells dial: finer cells keep every verdict deterministic and split no clique") {
    // k = 16 makes seeds of vectors that are family members at k = 8 —
    // planted members sit ≤ 2 millunits from their own prototype, so the
    // extra seeds (ids 8..15 = the first two families' j-members) pull
    // ONLY their own family, never another block: verdict set unchanged
    // except cells renumber. This is the probe's k·factor arm in
    // miniature — the dial must not change which cliques exist.
    val rows =
      (0 until 8).map(p => (p.toLong, proto(p))) ++
      (for (p <- 0 until 4; j <- 0 until 3)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), p * 8, j)))
    val dir = tempDir("graft-sdd2")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // ids are sparse (0..7, 100..132), so vec_id < 16 still selects
    // exactly the 8 prototypes: same seeds, k = 16 — the dial's only
    // effect here is the packing constant, pinning its correctness.
    val out = graft.queries.DedupQueries.dedupSemdedupCells(16)(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    for ((id, _) <- rows) {
      val expectedKept =
        if (id >= 4 && id < 8) true
        else if (id >= 100 && id % 10 == 2) true
        else false
      assert(out(id) == expectedKept, s"vector $id flipped under the k dial")
    }
  }

  test("the tau dial: a cos≈0.707 pair drops at tau=0.3 but survives the paper's tau=0.95") {
    // Fixture: protos 0..2 (seeds; r = ceil(sqrt(4)) = 2 supers), a
    // half-overlap vector 100 (dims 0..15 = 1.0: cos ≈ 0.707 against
    // proto 0 — BETWEEN the two thresholds), and a true near-dup 101 of
    // proto 0 (1 millunit off: cos ≈ 1 > 0.95). All land in cell 0
    // except protos 1/2. At the declared τ = 0.95 only the (0, 101)
    // pair qualifies — 0 drops (cdist 0 < 1, keep-farthest), 100 is
    // KEPT despite its 0.707 cosine. At the round-14 τ = 0.3 vector 100
    // joins the clique as its farthest member (cdist 8e6) and becomes
    // the sole survivor: 101 now ALSO drops.
    val rows = Seq(
      (0L, proto(0)), (1L, proto(1)), (2L, proto(2)),
      (100L, (0 until 64).map(i => if (i < 16) 1.0f else 0.0f).toSeq),
      (101L, perturb(proto(0), 0, 1)))
    val dir = tempDir("graft-sdd3")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val hi = graft.queries.DedupQueries.dedupSemdedupCells(4)(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(hi == Map(0L -> false, 1L -> true, 2L -> true,
      100L -> true, 101L -> true), s"tau=0.95 verdicts: $hi")
    val lo = graft.queries.DedupQueries
      .dedupSemdedupCellsTau(4, 9L, 100L)(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(lo == Map(0L -> false, 1L -> true, 2L -> true,
      100L -> true, 101L -> false), s"tau=0.3 verdicts: $lo")
  }
}
