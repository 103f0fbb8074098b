package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.functions.ColFns.{qdot, qnorm2}

/** Run-to-convergence Lloyd iteration (round-12 verdict #7) — the
  * N-round form behind the declared fixed-2-iteration `emb_kmeans`
  * oracle instance, built from the SAME assign/update blocks so the
  * oracle pins their semantics while this facade adds only the
  * [[Components]]-style driver loop around them.
  *
  * Everything stays exact fixed-point integer arithmetic (the
  * `emb_kmeans` doctrine — millunit vectors, micro-unit floor-division
  * centroids, packed-long argmin), so "converged" is well-defined as
  * EXACT centroid-table equality between rounds: Lloyd assignment is a
  * deterministic function of the centroid table, hence an unchanged
  * table is a fixpoint of the whole iteration, and the comparison is a
  * ≤ k-row join — the per-round action costs one corpus
  * assign+update pass and nothing more.
  *
  * Loop discipline ([[Loop.run]] owns the session clone and every
  * snapshot's release):
  *  - the corpus frame `q` is snapshotted ONCE (quantize + norm run one
  *    time, not once per round); per round the only NEW snapshot is the
  *    ≤ k-row centroid table, so iterated lineage never grows;
  *  - ONE action per round: the centroid-diff count materializes the
  *    round's assign+update into the new snapshot and compares against
  *    the previous table in the same job (full outer on cluster id, so
  *    an EMPTIED cluster — the standard Lloyd degeneracy, documented
  *    not patched in `emb_kmeans` — counts as a change the round it
  *    drops and the loop keeps running on the survivors);
  *  - unlike connectedComponents, hitting `maxRounds` RETURNS rather
  *    than throws: a label fixpoint is correctness (wrong labels must
  *    never ship), a Lloyd fixpoint is refinement — integer floor
  *    centroids can in principle 2-cycle near a tie, and every real
  *    deployment runs k-means under a round budget. The run posts
  *    `LoopEnd("KMeans", rounds, Fixpoint | Cap)` ([[Loop.run]])
  *    for the caller/probe to gate on; a run that throws posts nothing.
  *
  * 100 TB shape: each round is one broadcast cross join (≤ k rows
  * forced, the allowlisted posture) collapsed by a map-side-combined
  * packed-long min HashAggregate — the shuffle carries one partial per
  * vector — plus a dims-column sum per cluster; rounds multiply that
  * linear cost, nothing else accumulates.
  */
object KMeans {

  /** Assignment step over pre-quantized frames: `q` carries
    * (vec_id, qv: array<long> millunits, n2 = |qv|²), `cents` carries
    * (cluster, c: array<long> micro-units, cn2 = |c|²). The squared
    * distance |1000·qv − c|² expands to 10⁶·n2 − 2000·(qv·c) + cn2 —
    * three codegen'd [[qdot]] terms — and the argmin is a PACKED-LONG
    * min: dist ≥ 0 and cluster ∈ [0, 16), so min(16·dist + cluster) is
    * the (dist, cluster) lexicographic order exactly, and the primitive
    * buffer keeps the aggregate hash-based (a struct buffer forces
    * SortAggregate over the ×k-expanded stream; round-12 verdict #5
    * measurement). qv rides as a grouping key, not a first() aggregate:
    * vec_id is unique so the group is unchanged, but an array aggregate
    * buffer would also force the sort.
    *
    * Domain: 16·dist must fit a long, so |1000·qv − c| < ~7.6e8 per the
    * packing — i.e. coordinates within ~±7.6e5 millunits of any live
    * centroid (embeddings sit at ±4e3). Out-of-domain inputs RAISE
    * (ANSI overflow) rather than corrupt the argmin — measured at a
    * probe fixture whose 1e6-millunit chain extent crossed the bound. */
  private[graft] def assign(q: DataFrame, cents: DataFrame): DataFrame = {
    val dist = lit(1000000L) * col("n2") -
      lit(2000L) * qdot(col("qv"), col("c")) + col("cn2")
    q.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"), col("qv"))
      .agg(min(dist * 16L + col("cluster")).as("m"))
      .select(col("vec_id"), pmod(col("m"), lit(16L)).as("cluster"), col("qv"))
  }

  /** Update step: per-cluster counts and exact micro-unit floor-mean
    * centroids, c_d = floor(1000·Σqv_d / n). The division is a transform
    * LAMBDA, deliberately INTERPRETED: `dims` inline floorDiv chains in
    * the aggregate's output projection blew whole-stage codegen past the
    * JVM's 64 KB method limit (round-13 measurement — the Janino failure
    * silently de-codegen'd the whole per-vector stage, ~1.1 s of the
    * declared query's 2.0 s), while the lambda runs on ≤ k final rows
    * where interpretation is free. n = count(1) of a non-empty group is
    * ≥ 1 by construction, so the floor-div formula is inlined unguarded. */
  private[graft] def update(assigned: DataFrame, dims: Int): DataFrame = {
    val sums = (0 until dims).map(i => sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cluster"), col("n"),
        transform(array((0 until dims).map(i => col(s"s$i")): _*),
          s => { val a = s * 1000L
                 call_function("div", a - pmod(a, col("n")), col("n")) })
          .as("c"))
  }

  /** Quantize float embeddings to the millunit integer frame `assign`
    * consumes. Codegen'd ([[graft.functions.QuantizeVec]]) since round 19
    * — the transform-HOF form ran interpreted in the corpus scan stage. */
  private[graft] def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.ColFns.quantizeVecMilli(col("embedding")).as("qv"))
      .withColumn("n2", qnorm2(col("qv")))

  /** @param embeddings (vec_id, embedding: array<float/double>) — ids
    *                   must be unique; init centroids are vec_id < k
    *                   (id-stable, the emb_kmeans convention), so
    *                   k ≤ 16 (the packed-argmin label domain)
    * @param k          cluster count
    * @param dims       embedding width
    * @param loopParts  shuffle width for the iterative stage
    * @param maxRounds  round budget; exit-on-cap is recorded, not thrown
    * @return the converged flat (cluster_id, dim, c, n_vecs) table —
    *         the emb_kmeans output contract at the fixpoint */
  def lloyd(embeddings: DataFrame, k: Int, dims: Int = 64,
            loopParts: Int = 8, maxRounds: Int = 40): DataFrame = {
    require(k >= 1 && k <= 16, s"packed argmin carries labels in [0,16): k=$k")
    Loop.run("KMeans", embeddings.sparkSession, loopParts) { loop =>
      val q = loop.snap(quantize(embeddings))
      var prev = loop.snap(
        q.filter(col("vec_id") < k)
          .select(col("vec_id").as("cluster"),
            transform(col("qv"), _ * 1000L).as("c"))
          .withColumn("cn2", qdot(col("c"), col("c")))
          .withColumn("n", lit(0L)))
      val (rounds, converged) = loop.rounds(maxRounds) { _ =>
        val next = loop.snap(
          update(assign(q, prev), dims)
            .withColumn("cn2", qdot(col("c"), col("c"))))
        // The ONE action of the round: materializes the new centroid
        // table and diffs it against the previous one in the same job.
        // Full outer: a cluster present on one side only (emptied, or
        // round 0's n=0 seed vs its first real count) is a change.
        val changed = next.select(col("cluster").as("nc"),
            col("c").as("c2"), col("n").as("n2x"))
          .join(prev.select(col("cluster").as("pc"),
            col("c").as("c1"), col("n").as("n1x")),
            col("nc") === col("pc"), "full_outer")
          .filter(col("nc").isNull || col("pc").isNull ||
            col("c2") =!= col("c1") || col("n2x") =!= col("n1x"))
          .count()
        prev = loop.swap(prev, next)
        changed == 0
      }
      // Flatten to the emb_kmeans output contract.
      Loop.Done(
        prev.select(col("cluster").as("cluster_id"),
            posexplode(col("c")).as(Seq("dim", "cd")), col("n"))
          .select(col("cluster_id"), col("dim").cast("long").as("dim"),
            col("cd").as("c"), col("n").as("n_vecs")),
        rounds, if (converged) Exit.Fixpoint else Exit.Cap)
    }.orderBy("cluster_id", "dim")
  }
}
