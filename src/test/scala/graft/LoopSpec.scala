package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.operators.{Bpe, Components, KMeans, Loop, Lpa, PageRank}

/** The loop driver ([[Loop.run]]) releases every snapshot a failed loop
  * took and posts no `LoopEnd` for it. Each operator gets an input whose
  * evaluation raises inside its first round's action; afterwards no RDD
  * persisted during the call may still be registered. Only RDD ids new
  * to the call are compared, so another suite's cleanup cannot
  * interfere. */
class LoopSpec extends SparkSpec {
  private val marker = "loop-spec injected failure"

  /** `c` itself, except that evaluating it raises where `hit` holds. */
  private def raising(hit: Column, c: String): Column =
    when(hit, raise_error(lit(marker))).otherwise(col(c))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` in one measurement window and returns (what it threw,
    * the RDD ids it left persisted, the LoopEnds it posted). */
  private def failing(body: => Any): (Throwable, Set[Int], Seq[Metrics.LoopEnd]) = {
    val before = persisted
    val (thrown, m) = Metrics.measure(spark)(intercept[Throwable](body))
    (thrown, persisted -- before, m.loops)
  }

  private def assertReleased(body: => Any): Unit = {
    val (thrown, left, ends) = failing(body)
    assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(marker)), thrown.toString)
    assert(left.isEmpty, s"snapshots left persisted: $left")
    assert(ends.isEmpty, ends.toString)
  }

  // Inputs come from `range`, not local Seqs: the optimizer folds a
  // projection over a local relation at planning time, so the failure
  // would fire before the loop took any snapshot.
  private def path: DataFrame =
    spark.range(40).select(col("id").as("a"), (col("id") + 1).as("b"))

  test("Components releases every snapshot when a round raises") {
    assertReleased(Components.connectedComponents(
      path.select(col("a").as("doc_a"), raising(col("b") === 20L, "b").as("doc_b")),
      loopParts = 2).collect())
  }

  test("KMeans releases every snapshot when a round raises") {
    val emb = spark.range(8).select(col("id").as("vec_id"),
      array_repeat(col("id").cast("float"), 64).as("embedding"))
    assertReleased(KMeans.lloyd(
      emb.select(col("vec_id"), raising(col("vec_id") === 5L, "embedding").as("embedding")),
      k = 2, loopParts = 2).collect())
  }

  test("PageRank releases every snapshot when a round raises") {
    assertReleased(PageRank.iterate(
      path.select(col("a").as("pa"), raising(col("b") === 20L, "b").as("pb")),
      loopParts = 2).collect())
  }

  test("Lpa releases every snapshot when a round raises") {
    assertReleased(Lpa.iterate(
      path.select(col("a").as("pa"), raising(col("b") === 20L, "b").as("pb")),
      loopParts = 2).collect())
  }

  test("Bpe releases every snapshot when a round raises") {
    val words = spark.range(5).select(col("id").as("doc_id"),
      element_at(array(Seq("low", "lower", "newest", "widest", "boom").map(lit): _*),
        (col("id") + 1).cast("int")).as("word"))
    assertReleased(Bpe.train(
      words.select(col("doc_id"), raising(col("word") === "boom", "word").as("word")),
      targetMerges = 4, loopParts = 2).collect())
  }

  test("driver: a body that throws in round 2 releases every snapshot it took") {
    val before = persisted
    var taken = Set.empty[Int]
    val (thrown, left, ends) = failing {
      Loop.run("LoopSpec", spark, 2) { loop =>
        val base = loop.snap(spark.range(100).toDF("v"))
        var prev = loop.snap(base.select((col("v") % 7).as("v")))
        loop.rounds(5) { round =>
          val next = loop.snap(prev.select((col("v") + 1).as("v")), checkpoint = round > 0)
          next.count()
          prev = loop.swap(prev, next)
          taken = persisted -- before
          if (round == 2) throw new IllegalStateException(marker)
          false
        }
        Loop.Done(prev, 5, Exit.Cap)
      }
    }
    assert(thrown.getMessage == marker)
    assert(taken.size == 2, s"round 2 held the base table and its own: $taken")
    assert(left.isEmpty, s"snapshots left persisted: $left")
    assert(ends.isEmpty, ends.toString)
  }

  test("driver: a returning body keeps only the snapshot its result reads") {
    val before = persisted
    val (out, m) = Metrics.measure(spark) {
      Loop.run("LoopSpec", spark, 2) { loop =>
        val base = loop.snap(spark.range(10).toDF("v"))
        val kept = loop.snap(base.select((col("v") * 2).as("v")))
        kept.count()
        Loop.Done(kept, 1, Exit.Fixpoint)
      }
    }
    assert(out.sparkSession eq spark)
    assert(persisted -- before == Set(out.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.head))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L by 2L))
    assert(m.loops == Seq(Metrics.LoopEnd("LoopSpec", 1, Exit.Fixpoint)))
  }
}
