package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.operators.PageRank
import graft.queries.LinkageQueries

/** Run-to-convergence PageRank ([[PageRank.iterate]]) against an exact
  * sequential reference of the same integer update — the KMeansSpec
  * doctrine: the declared `graph_pagerank` oracle pins the 3-round
  * update semantics cross-engine; this pins the DRIVER LOOP (round
  * counting, the tol exit, introspection fields) on a closed-form
  * trajectory the test computes itself.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: the exact integer update to the tol fixpoint.
    * Returns (final ranks, rounds) with the same round-counting rule as
    * the driver loop — the exit check runs AFTER the round applies. */
  private def refIterate(adj: Map[Long, Seq[Long]], tol: Long,
                         maxRounds: Int): (Map[Long, Long], Int) = {
    val deg = adj.map { case (v, ns) => v -> ns.size.toLong }
    var r = adj.keysIterator.map(_ -> 1000000L).toMap
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val next = adj.map { case (v, ns) =>
        val s = ns.iterator.map(u => Math.floorDiv(r(u), deg(u))).sum
        v -> (150000L + Math.floorDiv(85L * s, 100L))
      }
      converged = adj.keysIterator.forall(v => math.abs(next(v) - r(v)) <= tol)
      r = next
      round += 1
    }
    (r, round)
  }

  test("planted path graph: loop matches the sequential reference to the fixpoint") {
    val dir = tempDir("graft-priter")
    val baskets = Seq(
      100L -> Seq(1L, 2L), 101L -> Seq(1L, 2L),
      102L -> Seq(2L, 3L), 103L -> Seq(2L, 3L))
    val rows = for ((o, ps) <- baskets; p <- ps) yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    val tol = 20000L
    val (want, wantRounds) = refIterate(adj, tol, 60)
    val (got, Seq(end)) = loopEnds("PageRank") {
      PageRank.iterate(
          LinkageQueries.coOrderPairs(spark, dir), tol = tol, loopParts = 2)
        .collect()
        .map(r => r.getAs[Long]("p_partkey") ->
          (r.getAs[Long]("pagerank"), r.getAs[Long]("degree"))).toMap
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(end.exit == Exit.Fixpoint, "loop hit the round cap on a 3-node graph")
    assert(end.rounds == wantRounds,
      s"rounds ${end.rounds} != reference $wantRounds")
    assert(got.view.mapValues(_._1).toMap == want,
      s"ranks $got != reference $want")
    assert(got(2L)._2 == 2L && got(1L)._2 == 1L && got(3L)._2 == 1L)
    // the contraction argument in the scaladoc: the tol exit engaged
    // well under the cap
    assert(end.rounds < 40, end.rounds.toString)
  }

  test("rounds are flat across fixture scales (the contraction bound, CI-resident)") {
    // The scaladoc's claim (PageRank.scala: rounds-to-tol is
    // ~log(dR0/tol)/log(1/d), bounded by the DAMPING constant, not the
    // graph size) as a spec-pinned number at 10x (round-14 verdict #7):
    // the same planted path graph at 1x and as 10 disjoint copies —
    // the volume probe's own fixture convention, which grows the node
    // count 10x while holding the spectral structure fixed, exactly
    // what the contraction argument says rounds depend on. Rounds must
    // be IDENTICAL, not merely close.
    def fixture(copies: Int): String = {
      val dir = tempDir(s"graft-prflat$copies")
      val baskets = Seq(
        100L -> Seq(1L, 2L), 101L -> Seq(1L, 2L),
        102L -> Seq(2L, 3L), 103L -> Seq(2L, 3L))
      val rows = for {
        c <- 0 until copies
        (o, ps) <- baskets
        p <- ps
      } yield (o + c * 1000L, p + c * 1000L)
      rows.toDF("l_orderkey", "l_partkey")
        .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    val tol = 20000L
    def roundsAt(copies: Int): (Int, Long) = {
      val (n, Seq(end)) = loopEnds("PageRank") {
        PageRank.iterate(
            LinkageQueries.coOrderPairs(spark, fixture(copies)),
            tol = tol, loopParts = 2)
          .count()
      }
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
      assert(end.exit == Exit.Fixpoint, s"copies=$copies hit the round cap")
      (end.rounds, n)
    }
    val (r1, n1) = roundsAt(1)
    val (r10, n10) = roundsAt(10)
    assert(n10 == 10 * n1, s"fixture scaling broken: $n1 -> $n10 nodes")
    assert(r10 == r1,
      s"rounds grew with corpus size: $r1 at 1x, $r10 at 10x — " +
        "the contraction bound does not hold")
  }

  test("fixture graph: converges, conserves rank mass up to floor loss") {
    val (out, Seq(end)) = loopEnds("PageRank") {
      PageRank.iterate(
          LinkageQueries.coOrderPairs(spark, sfDir), tol = 5000L)
        .agg(count(lit(1)).as("n"), sum(col("pagerank")).as("mass"))
        .collect().head
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(end.exit == Exit.Fixpoint, "fixture graph did not converge in 60 rounds")
    val (n, mass) = (out.getAs[Long]("n"), out.getAs[Long]("mass"))
    assert(n > 0)
    // The damped update conserves total mass at the fixpoint (teleport
    // injects (1−d)·N·S per round, the contribution term retains d of
    // the total); integer floors only LOSE mass, never mint it.
    assert(mass <= n * 1000000L, s"mass $mass exceeds $n x scale")
    assert(mass >= (n * 1000000L * 9L) / 10L,
      s"mass $mass lost more than 10% to floors on $n nodes")
  }
}
