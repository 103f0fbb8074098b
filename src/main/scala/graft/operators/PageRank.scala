package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Metrics, Sessions}
import org.apache.spark.sql.graftx.Metrics.{Exit, LoopEnd}

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
  * Loop discipline (inherited from [[Components]]/[[KMeans.lloyd]]):
  *  - the loop runs on a `newSession()` clone — AQE off, shuffle width
  *    `loopParts`, caller conf untouched;
  *  - the pair set and the degree-enriched out-edge table snapshot
  *    ONCE (the loop invariants); per round the only NEW snapshot is
  *    the node-scale rank table, so iterated lineage never grows;
  *  - ONE action per round: the delta count materializes the round's
  *    join+aggregate into the new snapshot and diffs it against the
  *    previous table in the same job (inner join — the node set is
  *    static by construction: every node has degree ≥ 1 and receives a
  *    contribution every round);
  *  - hitting `maxRounds` RETURNS rather than throws (the lloyd rule):
  *    a rank table short of tol is refinement, not corruption. The
  *    run posts `LoopEnd("PageRank", rounds, Fixpoint | Cap)`
  *    ([[Metrics.loopEnd]]); a run that throws posts nothing.
  */
object PageRank {

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
    val parent = pairs.sparkSession
    val s = parent.newSession()
    Sessions.copyRuntimeConf(parent, s)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val (pRdd, p0) = Sessions.snapshot(pairs)
    val pr = Sessions.rebind(p0, s)
    val edges = pr.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pr.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src").as("p")).agg(count(lit(1)).as("deg"))
    val (oeRdd, outEdges) = Sessions.snapshot(
      edges.join(deg.withColumnRenamed("p", "src"), "src"))
    // Node table (p, deg) — recomputed from the out-edge snapshot where
    // needed (init + final attach); a distinct over edge rows, cheap
    // against the cached snapshot.
    def nodes = outEdges.select(col("src").as("p"), col("deg")).distinct()
    var (prevRdd, prev) = Sessions.snapshot(
      nodes.select(col("p"), lit(PrScale).as("r")))
    var round = 0
    var converged = false
    var inFlight: org.apache.spark.rdd.RDD[_] = null
    var fin: DataFrame = null
    try {
      while (round < maxRounds && !converged) {
        val (nextRdd, next) = Sessions.snapshot(
          outEdges.join(prev, outEdges("src") === prev("p"))
            .groupBy(col("dst"))
            .agg((lit(PrTeleport) + floorDiv(
              lit(PrDampNum) * sum(floorDiv(col("r"), col("deg"))),
              PrDampDen)).as("r"))
            .select(col("dst").as("p"), col("r")))
        // TRUE lineage cut, not just a logical-plan cut: a snapshot's
        // RDD still carries the previous round's RDD in its dependency
        // OBJECT graph, and at ~50 rounds (this loop's tol depth —
        // Components/KMeans converge in ≤ 12) the serialized task
        // binary's recursive object graph overflows the executor's
        // deserialization stack (measured: StackOverflowError in
        // ObjectInputStream at the 100× probe arm). localCheckpoint
        // truncates the dependency graph at the round's first action —
        // the GraphX periodic-checkpoint practice; a cluster deployment
        // would use reliable checkpointing for executor-loss tolerance.
        // The truncated prev is never re-executed after its unpersist
        // (the output reads only the FINAL table, still cached).
        nextRdd.localCheckpoint()
        inFlight = nextRdd
        // The ONE action of the round: materialize the new rank table
        // and count nodes still moving more than tol, in the same job.
        val moving = next.select(col("p").as("np"), col("r").as("nr"))
          .join(prev.select(col("p").as("pp"), col("r").as("prv")),
            col("np") === col("pp"))
          .filter(abs(col("nr") - col("prv")) > tol)
          .count()
        prevRdd.unpersist(blocking = false)
        prev = next
        prevRdd = nextRdd
        inFlight = null
        converged = moving == 0L
        round += 1
      }
      // Attach the degree column and MATERIALIZE the final node-scale
      // table while the out-edge invariant is still cached (round-14
      // ADVICE: the returned plan referenced `nodes` — derived from the
      // snapshot the finally block below releases — so the caller's
      // FIRST action silently re-ran the corpus-scale basket expansion,
      // pair aggregate, and degree join from full lineage, paying the
      // most expensive stage twice). The count() is one node-scale job
      // over two cached tables; after it, every loop RDD — including
      // the localCheckpointed final rank table, now subsumed — is
      // released here rather than left to the caller.
      val (fRdd, f0) = Sessions.snapshot(
        prev.join(nodes, "p")
          .select(col("p").as("p_partkey"), col("r").as("pagerank"),
                  col("deg").as("degree")))
      f0.count()
      fin = f0
      // The final rank table's data lives on in `fin`; drop its
      // checkpointed RDD now so the registry never holds a
      // non-recomputable snapshot past iterate()'s return (the
      // Sessions.releaseSnapshots caveat applies to `fin` itself —
      // see that scaladoc — but not to any checkpoint block).
      prevRdd.unpersist(blocking = false)
      Metrics.loopEnd(parent, LoopEnd("PageRank", round,
        if (converged) Exit.Fixpoint else Exit.Cap))
    } finally {
      if ((inFlight != null) && (inFlight ne prevRdd))
        inFlight.unpersist(blocking = false)
      pRdd.unpersist(blocking = false)
      oeRdd.unpersist(blocking = false)
    }
    Sessions.rebind(fin, parent)
      .orderBy(desc("pagerank"), asc("p_partkey"))
  }
}
