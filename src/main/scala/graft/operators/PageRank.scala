package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.functions.ColFns.floorDiv
import graft.queries.LinkageQueries.{PrDampDen, PrDampNum, PrScale, PrTeleport}

/** Run-to-convergence power iteration — the N-round form behind the
  * declared fixed-3-round `graph_pagerank` oracle instance (the
  * [[KMeans.lloyd]] doctrine: the oracle pins the update rule's
  * semantics on unrolled rounds; this facade adds only the driver loop
  * around the SAME integer update). Everything stays exact BIGINT
  * micro-unit arithmetic (damping = the 85/100 pair, every division an
  * explicit non-negative floor), so "converged" is well-defined
  * WITHOUT floating point: max |r − r_prev| ≤ tol micro-units. Because
  * the update is a contraction with factor ≈ d = 0.85 on the rank
  * deltas, rounds-to-tol is ~log(ΔR₀/tol)/log(1/d) — bounded by the
  * damping constant, not the graph size, which is why the declared
  * fixed-round instance is an honest stand-in at any corpus scale.
  *
  * Loop discipline ([[Loop.run]] owns the session clone and every
  * snapshot's release):
  *  - the pair set and the degree-enriched out-edge table snapshot
  *    ONCE (the loop invariants); per round the only NEW snapshot is
  *    the node-scale rank table, checkpointed (about 50 rounds to tol —
  *    the depth [[Loop.snap]]'s checkpoint flag exists for), so
  *    iterated lineage never grows;
  *  - ONE action per round: the delta count materializes the round's
  *    join+aggregate into the new snapshot and diffs it against the
  *    previous table in the same job (inner join — the node set is
  *    static by construction: every node has degree ≥ 1 and receives a
  *    contribution every round);
  *  - hitting `maxRounds` RETURNS rather than throws (the lloyd rule):
  *    a rank table short of tol is refinement, not corruption. The
  *    run posts `LoopEnd("PageRank", rounds, Fixpoint | Cap)`
  *    ([[Loop.run]]); a run that throws posts nothing.
  */
object PageRank {

  /** The degree table (p, deg) of an undirected pair set (pa, pb) and
    * its directed out-edges enriched with the source degree
    * (src, dst, deg) — the loop-invariant table of every rank round,
    * shared with the declared fixed-round `graph_pagerank` instance.
    * Every node has degree ≥ 1 by construction (all nodes come from
    * edges, both directions present), so there is no dangling mass. */
  private[graft] def degrees(pairs: DataFrame): (DataFrame, DataFrame) = {
    val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src").as("p")).agg(count(lit(1)).as("deg"))
    (deg, edges.join(deg.withColumnRenamed("p", "src"), "src"))
  }

  /** One integer rank update r′(v) = (1−d)·S + d · Σ_{u∈N(v)} r(u)/deg(u)
    * over [[degrees]]' out-edges and a rank table (p, r): ONE equi-join
    * on the source key and ONE destination aggregate, in exact micro-units
    * with explicit floors (the [[floorDiv]] doctrine). */
  private[graft] def rankRound(outEdges: DataFrame, ranks: DataFrame): DataFrame =
    outEdges.join(ranks, outEdges("src") === ranks("p"))
      .groupBy(col("dst"))
      .agg((lit(PrTeleport) + floorDiv(
        lit(PrDampNum) * sum(floorDiv(col("r"), col("deg"))),
        PrDampDen)).as("r"))
      .select(col("dst").as("p"), col("r"))

  /** @param pairs     undirected support-thresholded edge set
    *                   (pa, pb) — [[graft.queries.LinkageQueries
    *                   .coOrderPairs]]'s output contract
    * @param tol       convergence threshold in micro-units of rank
    *                   (PrScale = 10⁶ is the unit mass)
    * @param loopParts shuffle width for the iterative stage
    * @param maxRounds round budget; exit-on-cap is recorded, not thrown
    * @return the converged full (p_partkey, pagerank, degree) table
    *         under the caller's session */
  def iterate(pairs: DataFrame, tol: Long = 1000L,
              loopParts: Int = 8, maxRounds: Int = 60): DataFrame = {
    require(tol >= 0L, s"tol must be non-negative, got $tol")
    Loop.run("PageRank", pairs.sparkSession, loopParts) { loop =>
      val outEdges = loop.snap(degrees(loop.snap(pairs))._2)
      // Node table (p, deg) — recomputed from the out-edge snapshot where
      // needed (init + final attach); a distinct over edge rows, cheap
      // against the cached snapshot.
      def nodes = outEdges.select(col("src").as("p"), col("deg")).distinct()
      var prev = loop.snap(nodes.select(col("p"), lit(PrScale).as("r")))
      val (rounds, converged) = loop.rounds(maxRounds) { _ =>
        val next = loop.snap(rankRound(outEdges, prev), checkpoint = true)
        // The ONE action of the round: materialize the new rank table
        // and count nodes still moving more than tol, in the same job.
        val moving = next.select(col("p").as("np"), col("r").as("nr"))
          .join(prev.select(col("p").as("pp"), col("r").as("prv")),
            col("np") === col("pp"))
          .filter(abs(col("nr") - col("prv")) > tol)
          .count()
        prev = loop.swap(prev, next)
        moving == 0L
      }
      // Attach the degree column and MATERIALIZE the final node-scale
      // table while the out-edge invariant is still cached (round-14
      // ADVICE: a returned plan reading `nodes` — derived from a snapshot
      // the loop releases — made the caller's FIRST action silently re-run
      // the corpus-scale basket expansion, pair aggregate, and degree join
      // from full lineage, paying the most expensive stage twice). The
      // count() is one node-scale job over two cached tables; the result
      // reads only this snapshot, so every other loop RDD — including the
      // checkpointed final rank table, now subsumed — is released on
      // return, and no non-recomputable checkpoint block outlives the call.
      val fin = loop.snap(
        prev.join(nodes, "p")
          .select(col("p").as("p_partkey"), col("r").as("pagerank"),
                  col("deg").as("degree")))
      fin.count()
      Loop.Done(fin, rounds, if (converged) Exit.Fixpoint else Exit.Cap)
    }.orderBy(desc("pagerank"), asc("p_partkey"))
  }
}
