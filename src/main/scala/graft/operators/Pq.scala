package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization codebook TRAINING (round-13 verdict #3): the
  * declared `emb_pq_codes` / `sim_pq_adc_topk` / `sim_ivfpq_topk` queries
  * run on SEED codebooks (the subvectors of vec_id < 4 — deterministic,
  * so the whole query is exactly oracle-able), but a real PQ index trains
  * each subspace's codebook with k-means (Jégou et al. 2011 §II-C: "the
  * codebooks are learned by k-means on a training set of sub-vectors").
  * This facade IS that trainer: one [[KMeans.lloyd]] run-to-convergence
  * loop per subspace over the sliced subvectors — the same
  * assign/update blocks the `emb_kmeans` oracle instance pins
  * cross-engine, at the subspace's dimensionality.
  *
  * Output: the flat (subspace, cluster_id, dim, c, n_vecs) table — each
  * subspace's [[KMeans.lloyd]] contract stacked, micro-unit integer
  * centroids. Init per subspace follows the lloyd convention (vec_id < k
  * seeds), so on a corpus whose first k vectors are the true prototypes
  * the trained codebooks recover them exactly at the integer fixpoint
  * (PqSpec plants that corpus; symmetric ± perturbations make every
  * cluster mean exact).
  *
  * 100 TB shape: each subspace's loop is the lloyd posture (≤ k-row
  * centroid broadcasts, one action per round, map-side-collapsed
  * packed-min argmin), run m times sequentially — the m loops share
  * nothing and a deployment could run them as m parallel jobs; the
  * per-round record volume is gated rounds-normalized by the volume
  * probe's kmeans_lloyd entry. Reference principle: iterated mapreduce
  * over a stored map, `/root/reference/src/dist_map.h:255-279`.
  */
object Pq {

  /** @param embeddings (vec_id, embedding) — ids unique; each subspace's
    *                   init centroids are the subvectors of vec_id < k
    * @param m          subspace count (embedding width must be m·subDim)
    * @param subDim     dimensions per subspace
    * @param k          codewords per subspace (≤ 16, the packed-argmin
    *                   label domain)
    * @param loopParts  shuffle width inside each lloyd loop
    * @param maxRounds  per-subspace round budget
    * @return (subspace, cluster_id, dim, c, n_vecs) — dim is the
    *         WITHIN-subspace dimension (0 until subDim); each subspace's
    *         loop posts its own `KMeans` LoopEnd, in subspace order */
  def trainCodebooks(embeddings: DataFrame, m: Int = 8, subDim: Int = 8,
      k: Int = 4, loopParts: Int = 8, maxRounds: Int = 40): DataFrame =
    (0 until m).map { j =>
      val sub = embeddings.select(col("vec_id"),
        slice(col("embedding"), j * subDim + 1, subDim).as("embedding"))
      KMeans.lloyd(sub, k, subDim, loopParts, maxRounds)
        .withColumn("subspace", lit(j.toLong))
    }.reduce(_ unionByName _)
      .select(col("subspace"), col("cluster_id"), col("dim"),
        col("c"), col("n_vecs"))
}
