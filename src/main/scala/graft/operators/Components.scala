package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

/** Distributed connected components — the operator behind `dedup_clusters`
  * (each near-dup pair component collapses to its min doc_id, the
  * canonical representative), factored out so specs can drive it on
  * arbitrary graphs.
  *
  * Algorithm: per round, (1) PROPAGATE rep'(v) = min rep over N(v) ∪ {v},
  * then (2) SHORTCUT rep''(v) = rep'(rep'(v)) (pointer jumping). Labels
  * are monotone non-increasing and always ids of same-component vertices,
  * and the reach of the min label roughly doubles per round, so the
  * fixpoint (= the component-min labeling) lands in O(log diameter)
  * rounds — propagation alone is O(diameter), which a 100 TB near-dup
  * chain can push past any fixed cap (round-2 verdict). A 300-vertex path
  * converges in ≤ 12 rounds here vs 300 steps for pure propagation
  * (ComponentsSpec).
  *
  * Execution notes earned the hard way (see DedupQueries history); the
  * session clone and every snapshot's release are [[Loop.run]]'s:
  *  - ONE action per round: the changed-count materializes `prop` and
  *    `next` into their snapshots and reads `prev` from the previous
  *    round's — nothing re-executes a prior round's lineage (the round-2
  *    convergence check re-ran (blockSteps−1) propagation steps);
  *  - candidate-pair input is snapshotted FIRST, so an expensive upstream
  *    lineage (the MinHash-LSH join for `dedup_clusters`) executes once,
  *    not once per frame that mentions the edges (round 2 paid it ~3×);
  *  - the propagate step is a SINGLE join+groupBy over self-looped edges
  *    so the label frame appears exactly once; the shortcut self-join
  *    aliases ONE frame twice (the supported pattern) — never a frame
  *    against its own derivative, whose column resolution is ambiguous
  *    and once silently broke;
  *  - non-convergence within the cap THROWS — wrong labels must never
  *    ship silently. With doubling reach, maxRounds = 50 covers any
  *    diameter below ~2^49; hitting the cap means a bug, not a big graph.
  *
  * A converged run posts `LoopEnd("Components", rounds, Fixpoint)`
  * ([[Loop.run]]); a run that throws posts nothing. VolumeProbe
  * normalizes the clusters entries' per-round linearity gate by those
  * rounds: every round re-joins the full edge set, so total join-output
  * rows are rounds × O(edges), and rounds track the MAX component
  * diameter in the corpus (O(log d) by the doubling argument above) — a
  * property of the data's cluster structure, not of data volume.
  */
object Components {

  /** @param pairs     (doc_a, doc_b) undirected candidate pairs
    * @param loopParts shuffle width for the iterative stage (size to the
    *                  edge volume; a handful for small graphs)
    * @param maxRounds cap on propagate+shortcut rounds (each ~doubles the
    *                  propagation reach; 50 ≈ diameter 2^49)
    * @return (doc_id, cluster_rep) for every vertex of the pair graph */
  def connectedComponents(pairs: DataFrame, loopParts: Int,
                          maxRounds: Int = 50): DataFrame =
    Loop.run("Components", pairs.sparkSession, loopParts) { loop =>
      // The candidate-pair lineage can be the heaviest stage of the whole
      // query (for dedup_clusters it is the corpus-wide MinHash-LSH join),
      // so it is snapshotted under the CALLER's session — full shuffle
      // width, AQE skew handling intact; loopParts sizes the tiny label
      // loop, not the corpus scan.
      val p = loop.snap(pairs)
      val undirected = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      // Snapshot the vertex set once: it feeds BOTH the self-looped edges
      // and the initial labels, and as a plain subtree the union+distinct
      // shuffle over the full vertex set would execute twice at startup
      // (round-9 review).
      val verts = loop.snap(undirected.select(col("src").as("v")).distinct())
      val edges = loop.snap(
        undirected
          .union(verts.select(col("v").as("src"), col("v").as("dst")))
          .repartition(loopParts, col("dst")))
      var prev = loop.snap(
        verts.select(col("v"), col("v").as("rep"))
          .repartition(loopParts, col("v")))
      val (rounds, converged) = loop.rounds(maxRounds) { round =>
        val prop = loop.snap(
          edges.join(prev, col("dst") === col("v"))
            .groupBy(col("src")).agg(min(col("rep")).as("rep"))
            .select(col("src").as("v"), col("rep")))
        val next = loop.snap(
          prop.as("a").join(prop.as("b"), col("a.rep") === col("b.v"))
            .select(col("a.v").as("v"), col("b.rep").as("rep")))
        // The ONE action of the round: materializes prop + next snapshots
        // and compares against the cached prev in the same job.
        val changed = next.join(
            prev.select(col("v").as("pv"), col("rep").as("prev_rep")),
            col("v") === col("pv"))
          .filter(col("rep") =!= col("prev_rep")).count()
        loop.release(prop)
        prev = loop.swap(prev, next)
        if (round == 0) { // edges + labels are materialized now
          loop.release(p)
          loop.release(verts)
        }
        changed == 0
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxRounds rounds")
      Loop.Done(prev.select(col("v").as("doc_id"), col("rep").as("cluster_rep")),
        rounds, Exit.Fixpoint)
    }.orderBy("doc_id")
}
