package graft

import graft.operators.Components
import org.apache.spark.sql.functions._

/** Structural tests for the log-round connected-components operator —
  * specifically the shapes the round-2 verdict called out: a HIGH-DIAMETER
  * component must converge in O(log diameter) rounds, far below any
  * per-step cap pure min-label propagation could afford.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("300-vertex path (diameter 299) converges within 12 rounds") {
    // Pure propagation needs 299 steps (round 2 capped at 25 and would
    // THROW here); propagate+shortcut doubles reach per round, so
    // ceil(log2) + slack rounds suffice. maxRounds = 12 makes the test
    // fail if the operator ever regresses to linear-round behavior.
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Components.connectedComponents(pairs, loopParts = 3, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 300)
    assert(labels.forall(_._2 == 0L), "every path vertex joins component 0")
  }

  test("a run that hits maxRounds throws, and its window holds no Components record") {
    // The 300-vertex path needs ~9 rounds; a cap of 2 must fail loudly
    // and leave nothing behind: no record that reads as this run's
    // outcome, and no snapshot still cached.
    val pairs = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val (thrown, ends) = loopEnds("Components") {
      intercept[IllegalStateException](
        Components.connectedComponents(pairs, loopParts = 3, maxRounds = 2))
    }
    assert(thrown.getMessage.contains("did not converge within 2 rounds"))
    assert(ends.isEmpty, ends.toString)
    assert(persisted -- before == Set.empty, "the failed run left snapshots persisted")
  }

  test("cycle, star, and disjoint components resolve to min labels") {
    val cycle = (0L until 40L).map(i => (100 + i, 100 + (i + 1) % 40))
    val star = (1L to 30L).map(i => (500L, 500 + i))
    val pair = Seq((900L, 901L))
    val pairs = (cycle ++ star ++ pair).toDF("doc_a", "doc_b")
    val got = Components.connectedComponents(pairs, loopParts = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L until 140L).forall(got(_) == 100L))
    assert((500L to 530L).forall(got(_) == 500L))
    assert(got(900L) == 900L && got(901L) == 900L)
  }

  test("2000-edge random graph matches union-find (seeded, multi-component)") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(2000) {
      // 3 islands of 400 vertices — several mid-size components plus noise
      val island = rnd.nextInt(3) * 1000L
      (island + rnd.nextInt(400), island + rnd.nextInt(400))
    }.filter(e => e._1 != e._2)
    val got = Components.connectedComponents(
        edges.toDF("doc_a", "doc_b"), loopParts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got == parent.keys.map(v => v -> find(v)).toMap)
  }

  test("loop leaves the caller session's conf untouched") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    Components.connectedComponents(pairs, loopParts = 2).collect()
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
  }

  test("result plan runs under the caller's session, not the loop clone") {
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Components.connectedComponents(pairs, loopParts = 2)
    assert(out.sparkSession eq spark)
    assert(out.orderBy(desc("doc_id")).collect().map(_.getLong(0)).toSeq == Seq(2L, 1L))
  }
}
