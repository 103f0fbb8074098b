package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Plan-shape evidence for partition pruning — with date/label-partitioned
  * layout (the standard 100 TB table organization), a filter on the
  * partition column must prune at the METADATA level: the scan's selected
  * partition count drops before any file is opened. Together with
  * BucketedJoinSpec this covers the two physical-layout levers: partition
  * pruning bounds what is read, bucketing bounds what is shuffled. */
class PartitionPruningSpec extends SparkSpec {

  test("filter on partition column prunes partitions at the scan") {
    val dir = tempDir("graft-part")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(s"$dir/orders_by_year.parquet")
    val all = spark.read.parquet(s"$dir/orders_by_year.parquet")
    val nYears = all.select("o_year").distinct().count()
    assert(nYears > 1, "fixture spans one year; pruning test is vacuous")

    val pruned = all.filter(col("o_year") === 1995)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    // executedPlan under AQE is an adaptive wrapper that hides the scan
    // until execution; inspect with AQE off (the static plan's pruning is
    // what AQE starts from).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans =
      try pruned.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.nonEmpty)
    // selectedPartitions is evaluated at planning from catalog metadata —
    // exactly one of the year directories may survive the filter.
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scans.head.selectedPartitions.partitionCount}")
    // and the partition filter is visible in the scan node itself
    assert(scans.head.partitionFilters.nonEmpty)
    // correctness: pruned result equals the unpartitioned filter
    val expected = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(pruned.orderBy("o_orderpriority").collect().toSeq ==
      expected.orderBy("o_orderpriority").collect().toSeq)
  }

  test("clustered IVFPQ scan reads only the probed cells (dynamic partition pruning)") {
    import graft.queries.SimilarityQueries
    // Materialize (or reuse) the cell-partitioned codes table, then run
    // the declared clustered scan. The ADC join keys on the partition
    // column (cell === pcell) against the broadcast scan table, so
    // Spark's dynamic partition pruning must restrict the FILES read to
    // the probed cells — the scaladoc's "non-probed cells are never read
    // at all", measured (round-14 verdict #3).
    val codes = SimilarityQueries.ivfpqCodesTable(spark, sfDir)
    val nCells = codes.select("cell").distinct().count()
    assert(nCells > 1, "fixture has one cell; pruning test is vacuous")
    val probedCells = {
      val (_, scanTab) = SimilarityQueries.ivfpqIndexNprobe(spark, sfDir, 1)
      scanTab.select("pcell").distinct().count()
    }
    assert(probedCells < nCells,
      s"all $nCells cells probed; pruning test is vacuous")

    // Two fixture-scale knobs, both restored below. DPP's benefit
    // heuristic is SIZE-driven (prune-side bytes × filter ratio vs the
    // filtering subquery's cost) and the fixture inverts deployment
    // sizes — a 500-row codes table vs a corpus-aggregate routing plan —
    // so the ratio knob stands in for the 100 TB asymmetry (codes =
    // the multi-TB side, routing = centroid stats + 5 probes). And the
    // broadcast-reuse matcher cannot pair the hint-forced scan-table
    // broadcast with DPP's re-planned build subtree, so the pruning
    // subquery must be allowed to run standalone — at deployment one
    // extra routing evaluation against a multi-TB scan saved.
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = SimilarityQueries.simIvfPqClusteredTopk(spark, sfDir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_ivfpq_codes_")) => s
      }
      assert(scans.nonEmpty, "no FileSourceScanExec over the codes table")
      val scan = scans.head
      // The pruning filter must be DYNAMIC (planted by the DPP rule from
      // the join key, not a static literal filter).
      assert(scan.partitionFilters.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
        s"no dynamic pruning filter on the codes scan: ${scan.partitionFilters}")
      // And it must have ENGAGED: partitions read = the probes' routed
      // cells (∝ nprobe), strictly fewer than |cells|.
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probedCells,
        s"read $partsRead cell partitions, probes route to $probedCells")
      assert(partsRead < nCells,
        s"read all $nCells cells — pruning did not engage")
      // Correctness: identical output to the inline-index declared twin.
      val inline = SimilarityQueries.simIvfPqTopk(spark, sfDir).collect()
      assert(rows.toSeq == inline.toSeq,
        "clustered scan diverges from the inline-index result")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("fully-trained clustered IVFPQR scan reads only the probed trained cells") {
    import graft.queries.SimilarityQueries
    // The round-16 deployment composition: train once (Lloyd cells +
    // residual codebooks), persist the codes PARTITIONED BY TRAINED CELL,
    // scan through DPP with routed-cell pruning + exact re-rank. Same
    // fixture-asymmetry knobs as the seed-codebook case above (the DPP
    // benefit heuristic is size-driven; deployment sizes invert here).
    val codes = SimilarityQueries.ivfpqFullPersisted(spark, sfDir)._1
    val nCells = codes.select("cell").distinct().count()
    assert(nCells > 1, "trained index collapsed to one cell; test is vacuous")
    val probedCells = {
      val (_, _, _, dtab) = SimilarityQueries.ivfpqTrainAll(spark, Tables.embeddings(spark, sfDir))
      dtab.select("pcell").distinct().count()
    }
    assert(probedCells < nCells,
      s"all $nCells trained cells probed; pruning test is vacuous")

    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    // One knob MORE than the seed-codebook case: the trained dtab's
    // lineage contains snapshotted LogicalRDD frames whose size stat is
    // `spark.sql.defaultSizeInBytes` (Long.MaxValue by default), so
    // DPP's benefit compare — filterRatio × codes-bytes > build-bytes —
    // can never pass at any sane ratio. Cap the unknown-size default so
    // the routing plan is costed as the ≤ 32-row artifact it is at
    // deployment (where centroids/codebooks are persisted tables with
    // real sizes), restoring the same asymmetry as above.
    spark.conf.set("spark.sql.defaultSizeInBytes", (1L << 20).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = SimilarityQueries.simIvfPqFullClusteredTopk(spark, sfDir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_ivfpqft_codes_")) => s
      }
      assert(scans.nonEmpty, "no FileSourceScanExec over the trained codes table")
      val scan = scans.head
      assert(scan.partitionFilters.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
        s"no dynamic pruning filter on the trained codes scan: ${scan.partitionFilters}")
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probedCells,
        s"read $partsRead cell partitions, probes route to $probedCells")
      assert(partsRead < nCells,
        s"read all $nCells cells — pruning did not engage")
      // Correctness: identical output to the inline-index declared twin.
      val inline = SimilarityQueries.simIvfPqFullTrainedTopk(spark, sfDir).collect()
      assert(rows.toSeq == inline.toSeq,
        "clustered trained scan diverges from the inline full-trained result")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.defaultSizeInBytes")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("append-admitted IVFPQR scan keeps DPP: only the probed cells' files are read") {
    import graft.queries.SimilarityQueries
    // Round 17: admission must not cost the clustered layout its file
    // pruning — the delta codes are APPENDED as new files inside
    // existing cell directories, so the partitioned scan prunes exactly
    // as the day-0 table did. Same fixture-asymmetry knobs as the
    // trained case above.
    val (codes, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val nCells = codes.select("cell").distinct().count()
    assert(nCells > 1, "append index collapsed to one cell; test is vacuous")
    val probedCells = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
      .select("pcell").distinct().count()
    assert(probedCells < nCells,
      s"all $nCells cells probed; pruning test is vacuous")

    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    spark.conf.set("spark.sql.defaultSizeInBytes", (1L << 20).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = SimilarityQueries.simIvfPqAppendTopk(spark, sfDir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_ivfpqap_codes_")) => s
      }
      assert(scans.nonEmpty, "no FileSourceScanExec over the append codes table")
      val scan = scans.head
      assert(scan.partitionFilters.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
        s"no dynamic pruning filter on the append codes scan: ${scan.partitionFilters}")
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probedCells,
        s"read $partsRead cell partitions, probes route to $probedCells")
      assert(partsRead < nCells,
        s"read all $nCells cells — pruning did not engage")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.defaultSizeInBytes")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("tombstoned delete scan keeps DPP: the anti-join costs no pruning") {
    import graft.queries.SimilarityQueries
    // Round 18: the delete query's tombstone anti-join sits ABOVE the
    // DPP-generating codes⋈dtab equi-join (the `pre` hook of
    // ivfpqCandidates), so the partitioned codes scan must prune to the
    // probed cells exactly as the append scan does.
    val (codes, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val nCells = codes.select("cell").distinct().count()
    val probedCells = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
      .select("pcell").distinct().count()
    assert(probedCells < nCells,
      s"all $nCells cells probed; pruning test is vacuous")

    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    spark.conf.set("spark.sql.defaultSizeInBytes", (1L << 20).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = SimilarityQueries.simIvfPqDeleteTopk(spark, sfDir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("graft_ivfpqap_codes_")) => s
      }
      assert(scans.nonEmpty, "no FileSourceScanExec over the append codes table")
      val scan = scans.head
      assert(scan.partitionFilters.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
        s"no dynamic pruning filter on the tombstoned codes scan: ${scan.partitionFilters}")
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probedCells,
        s"read $partsRead cell partitions, probes route to $probedCells")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.defaultSizeInBytes")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  /** Shared arm for the round-18 maintenance generations: run `q`, find
    * the FileSourceScanExec over the table whose path contains
    * `tableTag`, and pin dynamic pruning engaged at exactly the probed
    * cell count. Same fixture-asymmetry knobs as the append case. */
  private def assertDppOn(tableTag: String,
      probedCells: Long,
      q: => org.apache.spark.sql.DataFrame): Unit = {
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    spark.conf.set("spark.sql.defaultSizeInBytes", (1L << 20).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = q
    try {
      assert(out.collect().nonEmpty)
      val scans = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains(tableTag)) => s
      }
      assert(scans.nonEmpty, s"no FileSourceScanExec over $tableTag")
      val scan = scans.head
      assert(scan.partitionFilters.exists(
        _.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])),
        s"no dynamic pruning filter on the $tableTag scan: ${scan.partitionFilters}")
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == probedCells,
        s"read $partsRead cell partitions, probes route to $probedCells")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.defaultSizeInBytes")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("compacted scan keeps DPP: reclaiming tombstones costs no pruning") {
    import graft.queries.SimilarityQueries
    val (_, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val probedCells = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
      .select("pcell").distinct().count()
    assertDppOn("graft_ivfpqap_gc_", probedCells,
      SimilarityQueries.simIvfPqCompactTopk(spark, sfDir))
  }

  test("split scan keeps DPP: the 9-cell generation prunes to the routed cells") {
    import graft.queries.SimilarityQueries
    val (_, cells2) = SimilarityQueries.ivfpqSplitTables(spark, sfDir)
    val (_, _, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val probedCells = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cells2, cbT)
      .select("pcell").distinct().count()
    assertDppOn("graft_ivfpqsp_codes_", probedCells,
      SimilarityQueries.simIvfPqCellSplit(spark, sfDir))
  }
}
