package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, SimilarityQueries}

/** Recall gates for the approximate (LSH) operators — VERDICT.md round-1
  * gap #3: "an LSH with silently poor recall would still pass every gate".
  *
  * The driver's oracle check proves the LSH computes its DECLARED
  * approximation exactly; these specs prove the approximation is a GOOD
  * one where that is measurable:
  *
  *  - on data with planted near-duplicates (the workload dedup exists
  *    for), recall vs the exact baseline must be ≥ 0.9;
  *  - on the driver's real `documents` table, MinHash-LSH candidates must
  *    cover ≥ 0.9 of the exact Jaccard ≥ 0.5 pairs (measured: 1.0).
  *
  * The driver's `embeddings` table is isotropic noise (closest pairs sit
  * at 61–65°, cos ≈ 0.43–0.48 — there are no near-duplicates to find), so
  * embedding recall floors are asserted on the planted corpus, not there:
  * sign-LSH collision probability is (1 − θ/π) per plane, which no k/L
  * choice makes selective AND complete at θ ≈ 60°. Planted dups sit at
  * θ ≈ 8–18° where the declared (k, L, multiprobe) settings put expected
  * recall ≥ 0.97.
  */
class RecallSpec extends SparkSpec {

  /** Deterministic planted-near-dup embedding corpus: 100 base vectors of
    * isotropic noise plus 5 perturbed copies of each of bases 0..4 at
    * cos ≈ 0.99 (vec_ids 100..124) — so each ANN probe (vec_id < 5) has
    * exactly 5 true near neighbors, its planted dups, and the exact top-5
    * is all-planted. Fixed-seed PRNG keeps the spec reproducible. */
  private lazy val plantedDir: String = {
    val dir = tempDir("graft-planted")
    val rnd = new java.util.Random(421L)
    def noise(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Array.fill(100)(noise())
    val dups = for (i <- 0 until 5; _ <- 0 until 5) yield {
      val n = noise()
      base(i).zip(n).map { case (b, e) => b + 0.12f * e }
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 10) } ++
      dups.zipWithIndex.map { case (v, i) => ((100 + i).toLong, v, i % 10) }
    val sp = spark
    import sp.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def recall(cand: DataFrame, truth: DataFrame, keys: Seq[String]): (Long, Long) = {
    val total = truth.count()
    val hit = truth.join(cand.select(keys.map(col): _*).distinct(), keys).count()
    (hit, total)
  }

  test("planted near-dups: dedup_embedding_pairs (LSH) recovers >=0.9 of brute-force top-20") {
    // Declared form (4 planes, 2 tables) plus the probe-grown forms —
    // (8, 3) at ScaleProbeSpec's 10x, (12, 5) / (16, 6) at VolumeProbe's
    // 100x / 1000x decades: the
    // (k, L) rule grows BOTH dials (planes for occupancy, one table per
    // ~3 extra planes for recall — k=11 at the original L=2 measured
    // 15/20 here, which is how the second dial earned its place), and the
    // plane growth absorbs the table growth (2^k tracks L*n, not n — the
    // first 100x probe run failed (11, 4) at 2.19x linear, the
    // un-absorbed L factor), so it is recall-pinned everywhere it is
    // volume-gated.
    val brute = DedupQueries.dedupEmbeddingPairsBrute(spark, plantedDir)
      .select("vec_a", "vec_b")
    for ((planes, tables) <- Seq((4, 2), (8, 3), (12, 5), (16, 6))) {
      val lsh = DedupQueries.dedupEmbeddingPairsPlanes(planes, tables)(spark, plantedDir)
      val (hit, total) = recall(lsh, brute, Seq("vec_a", "vec_b"))
      assert(total == 20)
      assert(hit >= math.ceil(0.9 * total).toLong,
        s"embedding LSH recall at ($planes planes, $tables tables): $hit/$total < 0.9")
    }
  }

  test("planted near-dups: sim_ann_lsh recovers >=0.9 of exact top-5 per probe at every gated plane count") {
    // Exact top-5 per probe (vec_id < 5), brute-forced on the tiny corpus.
    val q = graft.sources.Tables.embeddings(spark, plantedDir)
      .select(col("vec_id"), graft.functions.ColFns.quantizeVec(col("embedding")).as("qv"))
      .withColumn("n2", graft.functions.ColFns.qnorm2(col("qv")))
    val probes = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("qv").as("pv"), col("n2").as("pn2"))
    val cos = graft.functions.ColFns.qdot(col("pv"), col("qv")) /
      (sqrt(col("pn2")) * sqrt(col("n2")))
    val w = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("cand_id"))
    val truth = q.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("probe_id", "cand_id")
    // k = 6 is the declared form; 10, 13 and 16 are the
    // ⌈log₂ factor⌉-grown deployments the 10×/100×/1000× probes run
    // (round-9 verdict #2) — the growth rule is only admissible where
    // recall stays pinned. The 3-table Hamming-1 multiprobe absorbs the
    // p^k decay at the planted θ ≈ 8–18°; hyperplanes are md5-derived
    // constants, so this is deterministic.
    for (k <- Seq(6, 10, 13, 16)) {
      val ann = SimilarityQueries.simAnnLshPlanes(k)(spark, plantedDir)
      val (hit, total) = recall(ann, truth, Seq("probe_id", "cand_id"))
      assert(total == 25)
      assert(hit >= math.ceil(0.9 * total).toLong,
        s"ANN LSH recall at $k planes: $hit/$total < 0.9")
    }
  }

  test("planted near-dups: sim_knn_graph keeps recall >= 0.9 as the plane count grows") {
    // ScaleProbeSpec grows NPlanes by ceil(log2 10) = 4 at the 10x
    // corpus, and VolumeProbe by ceil(log2 100) = 7 / ceil(log2 1000) =
    // 10 at the 100x / 1000x corpora (the planes-track-log2(n) rule). Growing k lowers
    // per-table collision probability (p^k), so the rule is only safe for
    // the near-dup workload this operator exists for — at the planted
    // cos ~0.993 (theta ~ 7 deg, p ~ 0.96 per plane) expected recall
    // stays >= 0.9 through k = 13 with L=3 tables, while isotropic-noise
    // "neighbors" (theta ~ 60 deg) wash out at ANY k. This pins the safe
    // domain for the declared (k=6), the 10x-grown (k=10) AND the
    // 100x-grown (k=13) forms: each planted vector's exact nearest
    // neighbor must appear in its top-3 graph edges for >= 0.9 of the
    // planted vectors. Hyperplanes are md5-derived constants, so the
    // outcome is deterministic.
    val q = graft.sources.Tables.embeddings(spark, plantedDir)
      .select(col("vec_id"), graft.functions.ColFns.quantizeVec(col("embedding")).as("qv"))
      .withColumn("n2", graft.functions.ColFns.qnorm2(col("qv")))
    val others = q.select(col("vec_id").as("other_id"), col("qv").as("oqv"),
      col("n2").as("on2"))
    val cos = graft.functions.ColFns.qdot(col("qv"), col("oqv")) /
      (sqrt(col("n2")) * sqrt(col("on2")))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("other_id"))
    val top1 = q.filter(col("vec_id") >= 100).crossJoin(broadcast(others))
      .filter(col("vec_id") =!= col("other_id"))
      .select(col("vec_id"), col("other_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("vec_id"), col("other_id").as("neighbor"))
    // Planes-only is recall-safe through k = 13; at k = 16 it measured
    // 20/25 — exactly the (1 − p^16)^3 ≈ 0.80 prediction — so the
    // 1000× decade grows BOTH dials (the pairs fixed point at L₀ = 3
    // → (18, 7)), pinned here alongside the planes-only forms.
    for ((k, l) <- Seq((6, 3), (10, 3), (13, 3), (18, 7))) {
      val graph = SimilarityQueries.simKnnGraphPlanes(k, l)(spark, plantedDir)
        .select("vec_id", "neighbor")
      val (hit, total) = recall(graph, top1, Seq("vec_id", "neighbor"))
      assert(total == 25)
      assert(hit >= math.ceil(0.9 * total).toLong,
        s"kNN-graph recall at ($k planes, $l tables): $hit/$total < 0.9")
    }
  }

  test("planted near-dups: the deployment IVFPQR index recovers >=0.9 of the exact top-5") {
    // Round-16 verdict #4: the recall gate extended from the LSH ANN to
    // the index a deployment actually serves — the persisted
    // full-clustered IVFPQR behind `sim_ivfpq_full_clustered_topk`. On
    // the planted corpus each probe's 5 true neighbors sit at θ ≈ 8–18°;
    // the trained coarse cells keep a dup in its base's cell, the
    // R = 20 shortlist covers the ~16-row cell, and the exact re-rank
    // restores any ADC inversion — so the declared dials (nprobe = 1,
    // R = 20) must clear 0.9 here, the number that justifies them.
    val audit = SimilarityQueries.simIvfpqrRecallAudit(spark, plantedDir)
      .agg(sum(col("n_hit")).as("hit"), sum(col("n_exact")).as("total")).head
    val (hit, total) = (audit.getLong(0), audit.getLong(1))
    assert(total == 25)
    assert(hit >= math.ceil(0.9 * total).toLong,
      s"IVFPQR deployment-index recall: $hit/$total < 0.9")
  }

  test("frozen-index nprobe dial: rank-1 routing == the declared pipeline, nprobe=2 never loses recall") {
    // The audit exists to justify the recall dials; this pins that the
    // dial WORKS at the persisted deployment artifacts: (a) the exact
    // cell ranking's rank-1 equals KMeans.assign's packed argmin (so
    // nprobe = 1 through the generalized router is the declared probe
    // pipeline, distance table for distance table), and (b) widening to
    // nprobe = 2 never removes a true neighbor from the re-ranked top-5
    // (more routed cells = a superset ADC scan; the exact re-rank keeps
    // the winners) — on the planted corpus, where exact top-5 is
    // all-planted and recall is the quantity at stake.
    val (codes, cellsT, cbT) =
      SimilarityQueries.ivfpqFullPersisted(spark, plantedDir)
    val d1 = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, plantedDir, cellsT, cbT)
      .collect().map(_.toSeq).toSet
    val d1n = SimilarityQueries
      .ivfpqProbeTablesFrozenNprobe(spark, plantedDir, cellsT, cbT, 1)
      .collect().map(_.toSeq).toSet
    assert(d1 == d1n,
      "rank-1 of the exact cell ranking diverged from KMeans.assign routing")
    def top5(nprobe: Int): Map[Long, Set[Long]] = {
      val dtab = SimilarityQueries
        .ivfpqProbeTablesFrozenNprobe(spark, plantedDir, cellsT, cbT, nprobe)
      SimilarityQueries.rerankRefine(spark, plantedDir,
          SimilarityQueries.ivfpqCandidates(codes, dtab,
            SimilarityQueries.RerankShortlist))
        .collect()
        .groupBy(_.getAs[Long]("probe_id"))
        .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet).toMap
    }
    val exact = {
      val q = graft.sources.Tables.embeddings(spark, plantedDir)
        .select(col("vec_id"), graft.functions.ColFns.quantizeVec(col("embedding")).as("qv"))
        .withColumn("n2", graft.functions.ColFns.qnorm2(col("qv")))
      val probes = q.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("qv").as("pv"), col("n2").as("pn2"))
      val cos = graft.functions.ColFns.qdot(col("pv"), col("qv")) /
        (sqrt(col("pn2")) * sqrt(col("n2")))
      val w = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("cand_id"))
      q.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .collect()
        .groupBy(_.getAs[Long]("probe_id"))
        .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet).toMap
    }
    val (t1, t2) = (top5(1), top5(2))
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    def hits(t: Map[Long, Set[Long]]): Int =
      exact.map { case (p, e) => (t.getOrElse(p, Set.empty) & e).size }.sum
    val (h1, h2) = (hits(t1), hits(t2))
    assert(h2 >= h1,
      s"nprobe=2 recall $h2/25 fell below nprobe=1's $h1/25 — the dial is broken")
    assert(h2 >= math.ceil(0.9 * 25).toInt,
      s"nprobe=2 recall $h2/25 < 0.9 on planted near-dups")
  }

  test("real documents: dedup_minhash_lsh candidates cover >=0.9 of exact Jaccard>=0.5 pairs") {
    val truth = DedupQueries.dedupNgramJaccard(spark, sfDir).select("doc_a", "doc_b")
    val cand = DedupQueries.dedupMinhashLsh(spark, sfDir)
    val (hit, total) = recall(cand, truth, Seq("doc_a", "doc_b"))
    assert(total > 0, "ground truth is empty — no near-dup documents at this SF")
    assert(hit >= math.ceil(0.9 * total).toLong, s"MinHash LSH recall $hit/$total < 0.9")
  }

  test("an out-of-domain vec_id raises loudly instead of corrupting the pack") {
    import spark.implicits._
    val dir = tempDir("graft-packguard")
    val vec = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    Seq((1L, vec, 0), (4294967296L, vec, 0)) // 2^32: first id past the domain
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[Exception] {
      DedupQueries.dedupEmbeddingPairsPlanes(4)(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("32-bit pack domain")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("packed candidate key round-trips at the 2^32 vec_id boundary") {
    // The embedding-pairs candidate distinct packs (vec_a, vec_b) into
    // one long: shiftleft(a, 32) + b. For a >= 2^31 the packed key's
    // sign bit is set, so the unpack MUST use the unsigned right shift —
    // this pins the exact expressions the query uses, at the extremes of
    // the documented 0 <= vec_id < 2^32 precondition.
    import spark.implicits._
    val ids = Seq(
      (0L, 1L), (0L, 4294967295L), (2147483647L, 2147483648L),
      (4294967293L, 4294967295L), (4294967294L, 4294967295L))
    val got = ids.toDF("a", "b")
      .select((shiftleft(col("a"), 32) + col("b")).as("pk"))
      .select(shiftrightunsigned(col("pk"), 32).as("a"),
              col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ids, s"pack/unpack mangled ids: $got")
  }

  test("kmeans: planted prototype clusters converge to the exact fixed-point centroids") {
    // 8 orthogonal prototypes (1.0 at dim j), vec_ids 0..7 — exactly the
    // init set — plus 3 identical members per prototype (1.0 at dim j,
    // 0.002 at dim j+8, vec_ids >= 8). Assignment is unambiguous at both
    // iterations (each member's nearest centroid is its own prototype's
    // by a ~2x margin in squared distance), so the declared two-iteration
    // run must land on the exact fixed-point integer mean in micro-units:
    // c[j]   = floor(1000 * (4 * 1000) / 4) = 1_000_000,
    // c[j+8] = floor(1000 * (3 * 2)    / 4) = 1_500,
    // zero elsewhere; n_vecs = 4 for every cluster. Pinning exact values
    // (not cluster-quality scores) is the point: the oracle proves
    // cross-engine agreement, this proves the arithmetic IS the k-means
    // update on data where the answer is closed-form.
    val dir = tempDir("graft-kmeans")
    def vec(j: Int, member: Boolean): Array[Float] = {
      val a = Array.fill(64)(0f); a(j) = 1f; if (member) a(j + 8) = 0.002f; a
    }
    val rows = (0 until 8).map(j => (j.toLong, vec(j, member = false), j)) ++
      (for (j <- 0 until 8; m <- 0 until 3)
        yield ((8 + j * 3 + m).toLong, vec(j, member = true), j))
    val sp = spark
    import sp.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityQueries.embKmeans(spark, dir).collect()
    assert(out.length == 8 * 64, s"expected 8x64 rows, got ${out.length}")
    out.foreach { r =>
      val cl = r.getAs[Long]("cluster_id")
      val dim = r.getAs[Long]("dim")
      assert(r.getAs[Long]("n_vecs") == 4L, s"cluster $cl n_vecs")
      val expected =
        if (dim == cl) 1000000L else if (dim == cl + 8) 1500L else 0L
      assert(r.getAs[Long]("c") == expected,
        s"cluster $cl dim $dim: c=${r.getAs[Long]("c")} expected $expected")
    }
  }
}
