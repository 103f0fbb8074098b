package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md is the committed, reviewable plan-shape evidence for every
  * declared query — and round 12 shipped its two most plan-novel queries
  * (emb_kmeans, sample_dsir_weights) with a dump that predated them
  * (round-12 verdict #3: "make PLANS.md staleness impossible"). This
  * spec parses the dump's `## <name>` section headers and asserts exact
  * set-equality with `SparkEntry.queries`, so declaring a query without
  * regenerating the dump (or regenerating after dropping one) fails the
  * build instead of surfacing a round later in review.
  *
  * Deliberately a pure text test — no SparkSession — so it costs
  * milliseconds and cannot flake; `sbt "runMain graft.Inspect plans"` with
  * SPARK_GRAFT_SF_DIR at the sf0.1 fixtures is the fix when it fires.
  */
class PlansFreshnessSpec extends AnyFunSuite {

  test("PLANS.md carries exactly one section per declared query") {
    val path = Paths.get("PLANS.md")
    assert(Files.exists(path), "PLANS.md missing — run: SPARK_GRAFT_SF_DIR=<sf0.1 dir> " +
      "sbt \"runMain graft.Inspect plans\"")
    val headers = Files.readString(path).linesIterator
      .filter(_.startsWith("## ")).map(_.stripPrefix("## ").trim).toSeq
    val dupes = headers.groupBy(identity).collect { case (n, hs) if hs.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate PLANS.md sections: $dupes")
    val dumped = headers.toSet
    val declared = SparkEntry.queries.keySet
    val missing = declared -- dumped
    val stale = dumped -- declared
    assert(missing.isEmpty && stale.isEmpty,
      s"PLANS.md is stale — missing sections: ${missing.toSeq.sorted}; " +
        s"sections for undeclared queries: ${stale.toSeq.sorted}. " +
        "Regenerate with: SPARK_GRAFT_SF_DIR=<sf0.1 dir> sbt \"runMain graft.Inspect plans\"")
  }

  test("no PLANS.md section records a failed plan") {
    val text = Files.readString(Paths.get("PLANS.md"))
    assert(!text.contains("PLAN FAILED"),
      "PLANS.md contains a PLAN FAILED section — a declared query did " +
        "not plan against the dump fixture; fix it and regenerate with: " +
        "SPARK_GRAFT_SF_DIR=<sf0.1 dir> sbt \"runMain graft.Inspect plans\"")
  }
}
