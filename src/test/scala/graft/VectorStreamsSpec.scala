package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.sources.Tables
import graft.streaming.VectorStreams

/** Streaming admission into the frozen-artifact ANN index
  * (streaming/VectorStreams.scala) — the batch admission contract
  * (IvfpqAppendSpec: append ≡ one-shot encode) carried to the
  * Structured Streaming sink: the delta arrives over TWO micro-batches
  * and the resulting served table must be row-identical to the
  * batch-admitted one, and must SERVE identically (the declared append
  * scan over the streamed table equals sim_ivfpq_append's output). */
class VectorStreamsSpec extends SparkSpec {

  test("two streamed micro-batches == batch admission; the streamed table serves identically") {
    val (codesB, cellsT, cbT) =
      SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val tbl = "graft_stream_codes_test"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // Day 0: the base corpus' codes, cell-partitioned — the
    // ivfpqAppendPersisted day-0 write.
    SimilarityQueries.ivfpqEncodeFrozenQ(graft.operators.KMeans.quantize(
        SimilarityQueries.appendBase(Tables.embeddings(spark, sfDir))),
        cellsT, cbT)
      .repartition(col("cell"))
      .write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(tbl)
    val nBase = spark.table(tbl).count()

    // The delta, split over two micro-batches (id order — any split
    // works: admission is stateless across batches by construction).
    val deltaRows = SimilarityQueries
      .appendDelta(Tables.embeddings(spark, sfDir))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    assert(deltaRows.length >= 2, "fixture delta too small to split")
    val (batchA, batchB) = deltaRows.splitAt(deltaRows.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Long, Seq[Float])]
    val vectors = mem.toDF().toDF("vec_id", "embedding")
    val ck = tempDir("graft-stream-ck")
    val q = VectorStreams.admit(vectors, tbl, cellsT, cbT, ck)
    try {
      mem.addData(batchA.toSeq: _*)
      q.processAllAvailable()
      // The micro-batch writes run in the stream's cloned session; this
      // session's cached relation must be dropped to see the new files.
      spark.catalog.refreshTable(tbl)
      val afterA = spark.table(tbl).count()
      assert(afterA == nBase + 8L * batchA.length,
        s"batch A admitted ${afterA - nBase} rows, want ${8 * batchA.length}")
      mem.addData(batchB.toSeq: _*)
      q.processAllAvailable()
      spark.catalog.refreshTable(tbl)
    } finally q.stop()

    // Row-identical to the batch-admitted table.
    val got = spark.table(tbl).select("vec_id", "cell", "m", "code")
    val want = codesB.select("vec_id", "cell", "m", "code")
    assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
      "streamed admission diverged from the batch-admitted codes")

    // And the streamed table SERVES identically: the deployment scan
    // over it equals the declared append query's output.
    val dtab = SimilarityQueries
      .ivfpqProbeTablesFrozen(spark, sfDir, cellsT, cbT)
    val scan = SimilarityQueries.rerankRefine(spark, sfDir,
      SimilarityQueries.ivfpqCandidates(spark.table(tbl), dtab,
        SimilarityQueries.RerankShortlist)).collect()
    val declared = SimilarityQueries.simIvfPqAppendTopk(spark, sfDir).collect()
    assert(scan.toSeq == declared.toSeq,
      "the streamed index serves different results than the batch-admitted one")
  }

  test("the admission sink's streaming plan carries no forced broadcast") {
    // The StreamingGuard discipline (BroadcastGuardSpec): the STREAM
    // side plan is the raw vector stream alone — every hint lives in
    // the per-batch BATCH plan against the contract-bounded artifact
    // tables. Walk the streaming side's analyzed plan and assert zero
    // ResolvedHint nodes.
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val mem = MemoryStream[(Long, Seq[Float])]
    val vectors = mem.toDF().toDF("vec_id", "embedding")
    val hints = vectors.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => r
    }
    assert(hints.isEmpty, s"streaming-side plan carries hints: $hints")
  }
}
