package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.queries.LinkageQueries

/** Label propagation ([[LinkageQueries.graphLabelPropagation]]) against a
  * sequential reference of the same mode/min-tiebreak update on a planted
  * two-community graph — the PageRankSpec doctrine: the DuckDB oracle
  * pins the unrolled rounds cross-engine on the fixture; this pins the
  * update SEMANTICS (mode vote, min-label tie, round count) on a graph
  * whose community structure the test derives by hand-executable rules.
  */
class LpaSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: LpaIters synchronous rounds of
    * label := mode over neighbor labels, ties to the smallest label. */
  private def refLpa(adj: Map[Long, Seq[Long]], iters: Int): Map[Long, Long] = {
    var lbl = adj.keysIterator.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (v, ns) =>
        val votes = ns.groupBy(lbl).view.mapValues(_.size.toLong).toMap
        val best = votes.toSeq.map { case (l, c) => (-c, l) }.min._2
        v -> best
      }
    }
    lbl
  }

  test("planted two-clique bridge graph: communities match the sequential reference") {
    // Two triangles {1,2,3} and {4,5,6} bridged by 3–4. Every desired
    // co-order edge appears in exactly MinSupport orders (the
    // coOrderPairs support floor), nothing else co-occurs.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val rows = for {
      (i, (a, b)) <- edges.zipWithIndex.map(_.swap)
      copy <- 0 until 2
      p <- Seq(a, b)
    } yield (1000L + i * 10L + copy, p)
    val dir = tempDir("graft-lpa")
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val adj = Map(
      1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L, 4L),
      4L -> Seq(3L, 5L, 6L), 5L -> Seq(4L, 6L), 6L -> Seq(4L, 5L))
    val want = refLpa(adj, LinkageQueries.LpaIters)
      .groupBy(_._2).map { case (lbl, m) =>
        lbl -> ((m.size.toLong, m.keys.min, m.keys.max))
      }

    val got = LinkageQueries.graphLabelPropagation(spark, dir).collect()
      .map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("member_min"),
          r.getAs[Long]("member_max")))).toMap
    assert(got == want, s"got $got\nwant $want")
    // The planted structure resolves: the left triangle coalesces onto
    // one label (the reference computes {1,2,3} -> 1 after 2 rounds), so
    // at least one community has 3 members.
    assert(got.values.exists(_._1 == 3L), s"no 3-member community in $got")
  }

  /** Sequential reference for the DRIVER LOOP ([[graft.operators.Lpa
    * .iterate]]): same update, same termination rules — fixpoint
    * (labels == previous round) or period-2 cycle (labels == two rounds
    * ago), whichever fires first, same round-counting convention (the
    * exit check runs AFTER the round applies). */
  private def refIterate(adj: Map[Long, Seq[Long]], maxRounds: Int)
      : (Map[Long, Long], Int, Boolean, Boolean) = {
    var lbl = adj.keysIterator.map(v => v -> v).toMap
    var prevPrev: Map[Long, Long] = null
    var round = 0
    var converged = false
    var osc = false
    while (round < maxRounds && !converged && !osc) {
      val next = adj.map { case (v, ns) =>
        val votes = ns.groupBy(lbl).view.mapValues(_.size.toLong).toMap
        v -> votes.toSeq.map { case (l, c) => (-c, l) }.min._2
      }
      round += 1
      if (next == lbl) converged = true
      else if (prevPrev != null && next == prevPrev) osc = true
      prevPrev = lbl
      lbl = next
    }
    (lbl, round, converged, osc)
  }

  test("iterate: converges to the sequential reference's fixpoint on the bridge graph") {
    import graft.operators.Lpa
    // Same planted two-triangle bridge as the declared-query test; the
    // loop must run it to termination and agree with the sequential
    // reference on labels, round count, and WHICH exit fired.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                    (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val adj = Map(
      1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L, 4L),
      4L -> Seq(3L, 5L, 6L), 5L -> Seq(4L, 6L), 6L -> Seq(4L, 5L))
    val (want, wantRounds, wantConv, wantOsc) = refIterate(adj, 30)
    val (got, Seq(end)) = loopEnds("Lpa") {
      Lpa.iterate(edges.toDF("pa", "pb"), loopParts = 2)
        .collect()
        .map(r => r.getAs[Long]("p") -> r.getAs[Long]("label")).toMap
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(wantConv || wantOsc, "reference hit the cap — fixture is degenerate")
    assert((end.exit == Exit.Fixpoint) == wantConv &&
      (end.exit == Exit.TwoCycle) == wantOsc,
      s"exit ${end.exit} != reference (conv=$wantConv, osc=$wantOsc)")
    assert(end.rounds == wantRounds,
      s"rounds ${end.rounds} != reference $wantRounds")
    assert(got == want, s"labels $got != reference $want")
  }

  test("iterate: detects the period-2 oscillation on a planted bipartite graph") {
    import graft.operators.Lpa
    // K_{2,2}: the canonical synchronous-LPA failure mode — each side
    // adopts the other's min label every round, forever (Raghavan et
    // al. 2007 §3). The loop must stop on the 2-cycle check, not spin
    // to the cap: l1 = (3,3,1,1), l2 = (1,1,3,3), l3 = l1 → caught at
    // round 3. The sequential reference computes the same trajectory.
    val pairs = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    val adj = Map(1L -> Seq(3L, 4L), 2L -> Seq(3L, 4L),
                  3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L))
    val (want, wantRounds, wantConv, wantOsc) = refIterate(adj, 30)
    assert(wantOsc && !wantConv, "reference did not oscillate — trace is wrong")
    val (got, Seq(end)) = loopEnds("Lpa") {
      Lpa.iterate(pairs.toDF("pa", "pb"), loopParts = 2)
        .collect()
        .map(r => r.getAs[Long]("p") -> r.getAs[Long]("label")).toMap
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(end.exit == Exit.TwoCycle,
      s"expected oscillation exit, got ${end.exit} rounds=${end.rounds}")
    assert(end.rounds == wantRounds,
      s"rounds ${end.rounds} != reference $wantRounds")
    assert(got == want, s"labels $got != reference $want")
  }

  test("iterate: an empty edge frame returns an empty label table, not an NPE") {
    import graft.operators.Lpa
    // ADVICE round 16: with zero nodes the disagreement sums aggregate
    // over zero rows to NULL and getLong NPE'd; the empty table is
    // trivially a fixpoint and must be returned as such.
    val (n, Seq(end)) = loopEnds("Lpa") {
      Lpa.iterate(Seq.empty[(Long, Long)].toDF("pa", "pb"), loopParts = 2).count()
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(n == 0, s"empty graph produced $n labels")
    assert(end.exit == Exit.Fixpoint,
      s"empty graph must exit as a fixpoint (rounds=${end.rounds})")
  }

  test("iterate: terminates on the fixture co-order graph") {
    import graft.operators.Lpa
    val (n, Seq(end)) = loopEnds("Lpa") {
      Lpa.iterate(LinkageQueries.coOrderPairs(spark, sfDir), loopParts = 4).count()
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(n > 0)
    assert(end.exit != Exit.Cap,
      s"loop hit the round cap on the fixture graph (rounds=${end.rounds})")
  }

  test("fixture graph: communities partition the node set") {
    val out = LinkageQueries.graphLabelPropagation(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_members") >= 1L)
      assert(r.getAs[Long]("member_min") <= r.getAs[Long]("member_max"))
    }
    // Top-20 communities are returned largest-first.
    val sizes = out.map(_.getAs[Long]("n_members"))
    assert(sizes.sameElements(sizes.sortBy(-_)), "not size-ordered")
  }
}
