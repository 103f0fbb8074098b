package graft

/** Partition-invariance: every declared query must produce bit-identical
  * results when the SAME data arrives in a different physical layout
  * (file count / row order) — the property that makes results
  * reproducible across cluster sizes and re-ingestions, and the silent
  * assumption behind every oracle hash-compare. A query that leans on
  * scan order (first/collect_list without sort, float accumulation
  * order, rand()) fails here long before it flakes in production.
  *
  * One query per family runs against a 7-way-repartitioned copy of the
  * sf0.001 fixtures (7 chosen as a non-power-of-2 so no partitioner
  * accidentally aligns) and must match the original byte for byte.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private lazy val shuffledDir: String = {
    val dir = tempDir("graft-inv")
    graft.sources.Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .repartition(7)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  // one representative per query family (parity, OLAP join, dedup,
  // text windows, similarity, events, sampling, linkage, multimodal)
  private val representatives = Seq(
    "mr_sum_by_key", "join_star_rollup", "dedup_minhash_lsh",
    "text_pack_chunks", "sim_knn_graph", "events_sessionized",
    "sample_temperature_mix", "graph_triangle_count",
    "text_inverted_index", "mm_meta_stats")

  representatives.foreach { name =>
    test(s"$name is invariant under a 7-way repartition of its inputs") {
      val q = SparkEntry.queries(name)
      val base = q(spark, sfDir).collect().map(_.toString).toSeq
      val moved = q(spark, shuffledDir).collect().map(_.toString).toSeq
      assert(base == moved,
        s"$name changed under repartition: ${base.diff(moved).take(3)} vs ${moved.diff(base).take(3)}")
      assert(base.nonEmpty, s"$name produced no rows on sf0.001")
    }
  }

  test("EVERY declared query is invariant under a 7-way repartition of its inputs") {
    // The blanket form of the per-family pins above: the whole inventory,
    // one assertion per query, failures aggregated so a regression names
    // every affected operator in one run instead of one per rerun.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        val base = q(spark, sfDir).collect().map(_.toString).toSeq
        val moved = q(spark, shuffledDir).collect().map(_.toString).toSeq
        org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
        if (base == moved) None
        else Some(s"$name: ${base.diff(moved).take(2)} vs ${moved.diff(base).take(2)}")
      } catch {
        case scala.util.control.NonFatal(e) => Some(s"$name threw: $e")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
