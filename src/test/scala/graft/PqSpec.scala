package graft

import org.apache.spark.sql.functions._

/** Planted-prototype semantics for the PQ pair (`emb_pq_codes`,
  * `sim_pq_adc_topk`): four well-separated prototypes occupy vec_id 0–3
  * (becoming the seed codebook in EVERY subspace), planted points are
  * millunit-exact perturbations of their prototype, and probe vec_id 4
  * is a near-copy of prototype 0 — so codes, reconstruction errors, and
  * the full ADC ranking are all computable by hand. Beyond the DuckDB
  * oracle (which pins arithmetic), this pins the SEMANTICS: cells route
  * by proximity, ADC depends only on the candidate's codes, and ties
  * break by candidate id.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // Prototype p has every dim = (p+1)·0.1 → millunit value (p+1)·100;
  // subvectors are pairwise ≥ 100 millunits apart per dim, so a ≤ 2
  // millunit perturbation can never flip a nearest-codeword vote.
  private def proto(p: Int): Seq[Float] = Seq.fill(64)(((p + 1) * 0.1).toFloat)
  private def perturb(v: Seq[Float], dim: Int, millunits: Int): Seq[Float] =
    v.updated(dim, v(dim) + millunits * 0.001f)

  private def fixtureDir(): String = {
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++          // prototypes = codebook
      Seq((4L, perturb(proto(0), 0, 1))) ++                  // probe: proto 0 + 1 millunit
      (for (p <- 0 until 4; j <- 0 until 10)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), j % 64, (j % 2) + 1)))
    val dir = tempDir("graft-pq")
    rows.toDF("vec_id", "embedding")
      .withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("every planted point codes to its prototype in all 8 subspaces; prototype err = 0") {
    val dir = fixtureDir()
    val codes = graft.queries.SimilarityQueries.embPqCodes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // Prototypes code to themselves exactly.
    for (p <- 0 until 4; m <- 0 until 8)
      assert(codes((p.toLong, m.toLong)) == (p.toLong, 0L),
        s"prototype $p subspace $m")
    // Planted points: code = prototype id everywhere; err nonzero only
    // in the one perturbed subspace (dim j%64 lives in subspace
    // (j%64)/8) and equals the squared millunit perturbation there.
    for (p <- 0 until 4; j <- 0 until 10; m <- 0 until 8) {
      val id = (100 + p * 10 + j).toLong
      val (code, err) = codes((id, m.toLong))
      assert(code == p.toLong, s"point $id subspace $m routed to $code")
      val pertSub = (j % 64) / 8
      val expectedErr = if (m == pertSub) { val k = (j % 2) + 1; (k * k).toLong } else 0L
      assert(err == expectedErr, s"point $id subspace $m err $err != $expectedErr")
    }
  }

  test("ivfpq: the ADC scan never leaves the probed cell") {
    // Cells split the corpus: cell "a" holds the proto-0/1 families (and
    // the probe), cell "b" the proto-2/3 families — EXCEPT planted points
    // 100 and 101 (proto-0 family), deliberately mislabeled into "b".
    // Under the full ADC scan (sim_pq_adc_topk semantics) probe 4's top-5
    // would be 0,100,101,102,103 — every all-zero-coded candidate sits at
    // adist exactly 1 and ties break by id. The IVF×PQ scan routes probe
    // 4 to cell "a" (its centroid is ~0.05/dim away vs ~0.23 for "b",
    // and the cleared-denominator n²·|p−c|² form preserves that order at
    // these cell sizes), so 100/101 must be INVISIBLE to it: the top-5
    // are the next lowest all-zero-coded ids in cell a — 0,102,103,104,105.
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++
      Seq((4L, perturb(proto(0), 0, 1))) ++
      (for (p <- 0 until 4; j <- 0 until 10)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), j % 64, (j % 2) + 1)))
    def cell(id: Long, protoId: Long): String =
      if (id == 100L || id == 101L) "b"
      else if (protoId < 2) "a" else "b"
    val labeled = rows.map { case (id, emb) =>
      val protoId = if (id < 4) id else if (id == 4) 0L else (id - 100) / 10
      (id, emb, cell(id, protoId))
    }
    val dir = tempDir("graft-ivfpq")
    labeled.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.SimilarityQueries.simIvfPqTopk(spark, dir).collect()
      .filter(_.getLong(0) == 4L).sortBy(_.getLong(1))
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 102L, 103L, 104L, 105L),
      s"probed-cell restriction violated: got ${out.map(_.getLong(1)).toSeq}")
    assert(out.forall(_.getLong(2) == 1L),
      s"all-zero-coded cell-a candidates must sit at adist 1, got " +
        s"${out.map(_.getLong(2)).toSeq}")
  }

  test("residual IVFADC equals plain ADC on a one-cell corpus (algebraic identity)") {
    // With a single cell every residual is y − c for the SAME c, so
    // pairwise subvector distances are unchanged (|(p−c)−(x−c)| =
    // |p−x|) and the codebook shifts with its inputs — assignments,
    // distance tables, and adist values must all be IDENTICAL to the
    // raw-vector ADC. The one-cell PqSpec fixture (label "t"
    // everywhere) pins the identity row for row; it also exercises the
    // full centroid/residual machinery, since c is a nonzero floor-mean.
    // Scale note: residuals live in MICRO-units (1000·qv − c, the
    // centroid's floor-mean precision) where plain ADC subvectors are
    // millunits, so every residual distance is exactly 10⁶× the plain
    // one — same ranking, same ties, adist scaled.
    val dir = fixtureDir()
    val plain = graft.queries.SimilarityQueries.simPqAdcTopk(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val residual = graft.queries.SimilarityQueries.simIvfPqResidualTopk(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(plain.nonEmpty)
    assert(residual == plain.map { case (p, c, a) => (p, c, a * 1000000L) },
      s"one-cell residual IVFADC diverged from plain ADC:\n$residual\nvs\n$plain")
  }

  test("residual ivfpq: the ADC scan never leaves the probed cell") {
    // The mislabel fixture from the non-residual test: planted points
    // 100/101 (proto-0 family) sit in cell "b". Residual encoding does
    // not change the expectations — within cell "a" every proto-0-family
    // residual still codes to codeword 0 (codebook entry 0 is proto 0's
    // OWN residual vs c_a, so their distance is just the perturbation),
    // and probe 4's distance-table row for codeword 0 is 1 in subspace 0
    // and 0 elsewhere. Top-5 = the lowest all-zero-coded ids IN cell a.
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++
      Seq((4L, perturb(proto(0), 0, 1))) ++
      (for (p <- 0 until 4; j <- 0 until 10)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), j % 64, (j % 2) + 1)))
    def cell(id: Long, protoId: Long): String =
      if (id == 100L || id == 101L) "b"
      else if (protoId < 2) "a" else "b"
    val labeled = rows.map { case (id, emb) =>
      val protoId = if (id < 4) id else if (id == 4) 0L else (id - 100) / 10
      (id, emb, cell(id, protoId))
    }
    val dir = tempDir("graft-ivfpqr")
    labeled.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.SimilarityQueries.simIvfPqResidualTopk(spark, dir)
      .collect().filter(_.getLong(0) == 4L).sortBy(_.getLong(1))
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 102L, 103L, 104L, 105L),
      s"probed-cell restriction violated: got ${out.map(_.getLong(1)).toSeq}")
  }

  test("trained-cell ivfpq: Lloyd cells separate planted blobs, empties drop, scan stays in-cell") {
    // Two well-separated blobs (proto 0 and proto 3, 300 millunits apart
    // per dim). The fixture's ids < 8 seed FIVE Lloyd clusters, three of
    // them EXACT DUPLICATES (ids 0,2,4 = proto 0; ids 1,3 = proto 3), so
    // round 1 ties every point to the LOWEST duplicate cluster (the
    // packed-min rule), clusters 2/3/4 empty and DROP (the documented
    // Lloyd degeneracy), and the trained cells converge to exact blob
    // membership {0: proto-0 family, 1: proto-3 family} — symmetric ±
    // pairs keep both floor-mean centroids exactly on the prototypes.
    // Every probe equals a prototype, so its distance table row for its
    // own blob's codeword is all-zero and EVERY in-cell candidate sits
    // at adist 0, id-tiebroken; cross-blob candidates must never appear.
    val pairs = Seq((2, 1), (3, 2), (4, 1)) // (dim, ±millunits)
    val rows =
      Seq(0L -> proto(0), 1L -> proto(3), 2L -> proto(0), 3L -> proto(3),
          4L -> proto(0)) ++
      pairs.zipWithIndex.flatMap { case ((dim, k), j) =>
        Seq((100L + 2 * j) -> perturb(proto(0), dim, k),
            (101L + 2 * j) -> perturb(proto(0), dim, -k)) } ++
      pairs.zipWithIndex.flatMap { case ((dim, k), j) =>
        Seq((130L + 2 * j) -> perturb(proto(3), dim, k),
            (131L + 2 * j) -> perturb(proto(3), dim, -k)) }
    val dir = tempDir("graft-ivfpqt")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.SimilarityQueries.simIvfPqTrainedTopk(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    val expected = Seq(
      0L -> Seq(2L, 4L, 100L, 101L, 102L),
      1L -> Seq(3L, 130L, 131L, 132L, 133L),
      2L -> Seq(0L, 4L, 100L, 101L, 102L),
      3L -> Seq(1L, 130L, 131L, 132L, 133L),
      4L -> Seq(0L, 2L, 100L, 101L, 102L)
    ).flatMap { case (p, cands) => cands.map(c => (p, c, 0L)) }
    assert(out.sorted.toSeq == expected.sorted,
      s"trained-cell ADC diverged:\n${out.sorted.toSeq}\nvs\n${expected.sorted}")
  }

  test("trained codebooks recover the planted prototypes exactly (integer fixpoint)") {
    // The trained path (round-13 verdict #3): Pq.trainCodebooks runs
    // KMeans.lloyd per subspace. The corpus plants the four prototypes at
    // vec_id 0–3 (the lloyd init convention seeds them as the initial
    // codebook) plus SYMMETRIC ±1-millunit pairs around each prototype on
    // three different dims — every cluster's per-dim sum is exactly
    // n·proto, so the floor-mean centroid equals the prototype in every
    // round and the integer fixpoint is the prototype table itself.
    // Trajectory: round 1 re-derives the same centroids but the seed row
    // carries n = 0 vs the real count (a change); round 2 is identical —
    // convergence observed. rounds = 2 in every subspace.
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++
      (for (p <- 0 until 4; j <- 0 until 3; sgn <- Seq(1, -1))
        yield ((100 + p * 10 + j * 2 + (if (sgn > 0) 0 else 1)).toLong,
          perturb(proto(p), j * 7, sgn)))
    val emb = rows.toDF("vec_id", "embedding")
    val (trainedDf, ends) = loopEnds("KMeans") {
      graft.operators.Pq.trainCodebooks(emb, m = 8, subDim = 8, k = 4, loopParts = 3)
    }
    val rounds = ends.map(_.rounds)
    val trained = trainedDf.collect()
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(rounds == Seq.fill(8)(2),
      s"expected 2 lloyd rounds per subspace, got " +
        s"${rounds}")
    // 8 subspaces x 4 codewords x 8 dims.
    assert(trained.length == 8 * 4 * 8)
    trained.foreach { r =>
      val (sub, cid, dim, c, n) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // Prototype p has every dim = (p+1)·100 millunits → (p+1)·100000
      // micro-units; cluster p holds the prototype + its 6 paired points.
      assert(c == (cid + 1) * 100000L,
        s"subspace $sub codeword $cid dim $dim: centroid $c is not the prototype")
      assert(n == 7L, s"subspace $sub codeword $cid: n_vecs $n != 7")
    }
  }

  test("declared trained-codebook encode: prototypes recovered, closed-form errs") {
    // The trainCodebooks fixture (symmetric ±1-millunit pairs around
    // each prototype on dims 0/7/14): per-subspace cluster sums are
    // exactly n·proto, so both Lloyd rounds return the prototype table
    // itself and the TRAINED codebook equals the seed. Every point then
    // codes to its own family in all 8 subspaces; err (micro²) is 10⁶
    // exactly in the one perturbed subspace (dims 0 and 7 both live in
    // subspace 0, dim 14 in subspace 1) and 0 everywhere else.
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++
      (for (p <- 0 until 4; j <- 0 until 3; sgn <- Seq(1, -1))
        yield ((100 + p * 10 + j * 2 + (if (sgn > 0) 0 else 1)).toLong,
          perturb(proto(p), j * 7, sgn)))
    val dir = tempDir("graft-pqt")
    rows.toDF("vec_id", "embedding").withColumn("label", lit("t"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.SimilarityQueries.embPqTrainedCodes(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    for ((id, _) <- rows; m <- 0 until 8) {
      val p = if (id < 4) id else (id - 100) / 10
      val pertSub = if (id < 4) -1 else (((id - 100) % 10) / 2).toInt * 7 / 8
      val (code, err) = out((id, m.toLong))
      assert(code == p, s"point $id subspace $m coded to $code, not $p")
      val expectedErr = if (m == pertSub) 1000000L else 0L
      assert(err == expectedErr, s"point $id subspace $m err $err != $expectedErr")
    }
  }

  test("nprobe=2 routing recovers the cross-cell neighbors nprobe=1 loses") {
    // The mislabel fixture from the in-cell test: planted points 100/101
    // (proto-0 family, probe 4's true 2nd/3rd neighbors) deliberately sit
    // in cell "b" while probe 4 routes to "a" — the nprobe=1 scan
    // provably cannot see them (the sibling test asserts exactly that).
    // With nprobe = 2 and only two cells, BOTH are probed, so the top-5
    // must equal the full-ADC answer: 0,100,101,102,103 at adist 1 —
    // recall bought back for 2/|cells| of the corpus scanned.
    val rows =
      (0 until 4).map(p => (p.toLong, proto(p))) ++
      Seq((4L, perturb(proto(0), 0, 1))) ++
      (for (p <- 0 until 4; j <- 0 until 10)
        yield ((100 + p * 10 + j).toLong, perturb(proto(p), j % 64, (j % 2) + 1)))
    def cell(id: Long, protoId: Long): String =
      if (id == 100L || id == 101L) "b"
      else if (protoId < 2) "a" else "b"
    val labeled = rows.map { case (id, emb) =>
      val protoId = if (id < 4) id else if (id == 4) 0L else (id - 100) / 10
      (id, emb, cell(id, protoId))
    }
    val dir = tempDir("graft-ivfpqn")
    labeled.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.SimilarityQueries.simIvfPqNprobeTopk(spark, dir)
      .collect().filter(_.getLong(0) == 4L).sortBy(_.getLong(1))
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 100L, 101L, 102L, 103L),
      s"nprobe=2 did not recover the mislabeled neighbors: got " +
        s"${out.map(_.getLong(1)).toSeq}")
    assert(out.forall(_.getLong(2) == 1L),
      s"all-zero-coded candidates must sit at adist 1, got " +
        s"${out.map(_.getLong(2)).toSeq}")
  }

  test("exact re-rank fixes the ADC's planted rank inversions") {
    // The fixture plants the inversion by construction: probe 4 is
    // proto 0 + 1 millunit on dim 0, and EVERY proto-0-family candidate
    // codes all-zeros, so the ADC sees them all at adist exactly 1 and
    // ranks by id — 0,100,101,102,103. The EXACT distances differ:
    // candidate 100 (perturbed +1 on the probe's own dim) sits at
    // edist 0, the odd-j candidates (±2 perturbations) at 5, the even-j
    // ones at 2, the prototype itself at 1. The refine stage must
    // surface 104 and 106 (edist 2, invisible to the ADC's id
    // tiebreak) and drop 101/103 (edist 5): top-5 = 100,0,102,104,106,
    // output id-ordered with both distances carried.
    val dir = fixtureDir()
    val out = graft.queries.SimilarityQueries.simIvfPqRerankTopk(spark, dir)
      .collect().filter(_.getLong(0) == 4L).sortBy(_.getLong(1))
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 100L, 102L, 104L, 106L),
      s"re-rank did not fix the planted inversion: got " +
        s"${out.map(_.getLong(1)).toSeq}")
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 0L, 2L, 2L, 2L),
      s"exact distances wrong: ${out.map(_.getLong(3)).toSeq}")
    assert(out.forall(_.getLong(2) == 1L),
      s"shortlist adist must be 1 for all-zero-coded candidates, got " +
        s"${out.map(_.getLong(2)).toSeq}")
  }

  test("ADC ranking for the near-prototype probe is the cluster-0 cells, id-tiebroken") {
    val dir = fixtureDir()
    val adc = graft.queries.SimilarityQueries.simPqAdcTopk(spark, dir).collect()
      .filter(_.getLong(0) == 4L).sortBy(_.getLong(1))
    // Probe 4 = proto 0 + 1 millunit on dim 0: its distance-table row
    // for codeword 0 is 1 in subspace 0 and 0 elsewhere, so EVERY
    // candidate coded all-zeros has adist exactly 1, and the top-5 are
    // the five lowest candidate ids in cluster 0: the prototype itself
    // (vec 0) then planted points 100..103.
    assert(adc.map(_.getLong(1)).toSeq == Seq(0L, 100L, 101L, 102L, 103L),
      s"got ${adc.map(_.getLong(1)).toSeq}")
    assert(adc.forall(_.getLong(2) == 1L),
      s"all-zero-coded candidates must sit at adist 1, got ${adc.map(_.getLong(2)).toSeq}")
  }
}
