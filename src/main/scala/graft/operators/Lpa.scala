package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

/** Run-to-termination label propagation (round-15 verdict #4) — the
  * N-round form behind the declared fixed-2-round
  * `graph_label_propagation` oracle instance, built from the SAME
  * vote-round block ([[voteRound]]) so the oracle pins the update
  * semantics (mode vote, min-label tie, the packed-DECIMAL(38,0) hash
  * aggregate) while this facade adds only the driver loop — the
  * KMeans.lloyd / PageRank.iterate doctrine, completing the trio.
  *
  * LPA's stop condition is the genuinely non-trivial one of the three:
  * under full synchrony the dynamic famously does NOT always reach a
  * fixpoint — it can enter a period-2 limit cycle (the bipartite
  * oscillation: each side adopts the other's label, forever — Raghavan
  * et al. 2007 §3 call this out as the reason their algorithm is
  * asynchronous). For plurality dynamics under symmetric influence the
  * eventual period is bounded at 2 (Poljak & Sůra 1983, "On periodical
  * behaviour in societies with symmetric influences" — the multi-label
  * generalization of the Goles–Olivos threshold-automata theorem;
  * measured on the fixture co-order graph: moved-count decays
  * monotonically then locks into exactly period 2), so the complete
  * termination test is: fixpoint
  * (labels == previous round) OR 2-cycle (labels == two rounds ago).
  * Both are exact integer comparisons — no tolerance, no floats — and
  * both are checked in the round's ONE action: the new label table
  * joins the previous AND the one before it (all node-scale) and two
  * conditional sums count disagreements against each. Hitting
  * `maxRounds` RETURNS rather than throws (the lloyd rule — a label
  * table short of termination is refinement, not corruption). The run
  * posts `LoopEnd("Lpa", rounds, Fixpoint | TwoCycle | Cap)`
  * ([[Loop.run]]); a run that throws posts nothing.
  *
  * Loop discipline ([[Loop.run]] owns the session clone and every
  * snapshot's release):
  *  - the directed edge set snapshots ONCE (the loop invariant); per
  *    round the only NEW snapshot is the node-scale label table, so
  *    iterated lineage never grows;
  *  - each round's label snapshot is checkpointed ([[Loop.snap]]'s
  *    flag — the PageRank lesson: the RDD dependency OBJECT graph still
  *    chains round-over-round after the logical cut, and past ~15
  *    rounds the serialized task binary overflows the executor
  *    deserialization stack);
  *  - ONE action per round (the two disagreement counts share a job).
  *
  * 100 TB shape: per round one equi-join (labels ⋈ out-edges on the
  * source key) + two hash aggregates (the (dst, label) vote counts
  * map-side-combined, then the packed-decimal argmax) — the
  * `graph_pagerank` shuffle class, 2·|E| rows per round; the
  * termination check adds one node-scale 3-way join. Reference
  * principle: iterated mapreduce over a stored map,
  * /root/reference/src/dist_map.h:255-279.
  */
object Lpa {

  /** One synchronous vote round over a DIRECTED edge frame (src, dst)
    * and a label frame (p, lbl): every node adopts the mode of its
    * in-neighbors' labels, ties to the smallest label. The argmax is
    * the packed-DECIMAL(38,0) hash aggregate the declared
    * `graph_label_propagation` oracle pins (cnt·2⁶⁴ + (2⁶⁴−1−label),
    * exact for any non-negative int64 label and count < 2⁶⁰; ANSI
    * decimal overflow RAISES past that, and the guard RAISES on
    * negative labels rather than corrupting the argmax — see that
    * query's scaladoc for the SortAggregate-avoidance measurement). */
  private[graft] def voteRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val two64 = lit(BigDecimal("18446744073709551616")).cast(dec)
    val low64 = lit(BigDecimal("18446744073709551615")).cast(dec)
    val guardedLbl: Column = when(col("lbl") >= 0L, col("lbl").cast(dec))
      .otherwise(raise_error(concat(
        lit("lpa label outside the non-negative pack domain: "),
        col("lbl").cast("string"))))
    edges.join(labels, edges("src") === labels("p"))
      .groupBy(col("dst"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("dst"))
      .agg(max(col("cnt").cast(dec) * two64 + (low64 - guardedLbl)).as("m"))
      .select(col("dst").as("p"),
        (low64 - pmod(col("m"), two64)).cast("long").as("lbl"))
  }

  /** Default round budget 60: the fixture co-order graph at sf0.01
    * settles into its period-2 limit cycle at round ~36 (measured —
    * the moved-label count decays monotonically 1872 → 42 over 35
    * rounds, then the 42 tied nodes flip in place forever), so a
    * PageRank-class budget of 60 leaves detection headroom while a cap
    * exit remains a recorded, non-throwing outcome.
    *
    * @param pairs     undirected edge set (pa, pb) — the
    *                  [[graft.queries.LinkageQueries.coOrderPairs]]
    *                  output contract
    * @param loopParts shuffle width for the iterative stage
    * @param maxRounds round budget; exit-on-cap is recorded, not thrown
    * @return the final (p, label) node table under the caller's
    *         session, ordered by p — on oscillation, the LAST round's
    *         side of the 2-cycle */
  def iterate(pairs: DataFrame, loopParts: Int = 8,
              maxRounds: Int = 60): DataFrame =
    Loop.run("Lpa", pairs.sparkSession, loopParts) { loop =>
      val pr = loop.snap(pairs)
      val edges = loop.snap(
        pr.select(col("pa").as("src"), col("pb").as("dst"))
          .union(pr.select(col("pb").as("src"), col("pa").as("dst"))))
      var prev = loop.snap(
        edges.select(col("src").as("p")).distinct()
          .select(col("p"), col("p").as("lbl")))
      // The round before `prev` — absent in round 1 (the 2-cycle test
      // needs two completed rounds to be meaningful).
      var prevPrev: DataFrame = null
      var exit: Exit = Exit.Cap
      val (rounds, _) = loop.rounds(maxRounds) { _ =>
        val next = loop.snap(voteRound(edges, prev), checkpoint = true)
        // The ONE action of the round: materialize the new label table
        // and count disagreements vs the previous round AND the round
        // before it, in the same job. The node set is static (every
        // node receives a vote every round — edges are bidirectional),
        // so inner joins cover it.
        val cmp = next.select(col("p").as("np"), col("lbl").as("nl"))
          .join(prev.select(col("p").as("pp"), col("lbl").as("pl")),
            col("np") === col("pp"))
        // coalesce: an EMPTY node set (no edges at all) sums over zero
        // rows → NULL, and getLong would NPE; zero disagreements is the
        // correct reading (the empty table is trivially a fixpoint).
        val row =
          if (prevPrev == null)
            cmp.agg(
              coalesce(sum(when(col("nl") =!= col("pl"), 1L).otherwise(0L)),
                lit(0L)).as("d1"),
              lit(-1L).as("d2")).head
          else
            cmp.join(prevPrev.select(col("p").as("qp"), col("lbl").as("ql")),
                col("np") === col("qp"))
              .agg(
                coalesce(sum(when(col("nl") =!= col("pl"), 1L).otherwise(0L)),
                  lit(0L)).as("d1"),
                coalesce(sum(when(col("nl") =!= col("ql"), 1L).otherwise(0L)),
                  lit(0L)).as("d2"))
              .head
        prevPrev = loop.swap(prevPrev, prev)
        prev = next
        if (row.getLong(0) == 0L) exit = Exit.Fixpoint
        else if (row.getLong(1) == 0L) exit = Exit.TwoCycle
        exit != Exit.Cap
      }
      // Materialize the final frame into a fresh snapshot so the loop's
      // checkpointed RDDs are all released on return (the PageRank
      // lesson: returning a plan over a released snapshot makes the
      // caller's first action re-run the corpus-scale lineage).
      val fin = loop.snap(prev.select(col("p"), col("lbl").as("label")))
      fin.count()
      Loop.Done(fin, rounds, exit)
    }.orderBy("p")
}
