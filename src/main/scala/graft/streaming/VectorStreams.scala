package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming form of the ANN index's incremental admission —
  * the round-17/18 frozen-artifact admission contract
  * ([[graft.queries.SimilarityQueries.ivfpqAppendPersisted]]) as a
  * CONTINUOUS ingest: vectors arrive on a stream (embedding service
  * output), and each micro-batch is quantized through the FROZEN
  * artifacts and append-written into the served cell-partitioned codes
  * table — the reference's `async_set` buffering + `sync` admission
  * (/root/reference/src/dist_map.h:118-130,147-210) with the micro-batch
  * as the sync boundary.
  *
  * Shape: the STREAMING plan is the raw vector stream alone — admission
  * runs in `foreachBatch`, the deployment pattern for transactional
  * appends to a partitioned table (each batch is a closed set, so the
  * encode's per-vector argmin aggregates run as plain batch plans; a
  * stream-side aggregation would force watermark state for no benefit —
  * admission has no cross-batch state at all: the artifacts are frozen
  * and every batch is independent, which is exactly what made the batch
  * append ≡ one-shot encode, IvfpqAppendSpec). The per-batch plan's
  * broadcast hints are the admission chain's own, against the
  * contract-bounded artifact tables (≤ 8-row cells, ≤ 32-row codebook —
  * the allowlisted ivfpq bounds); the streaming plan itself carries no
  * hint (StreamingGuard's zero-forced-broadcast discipline holds).
  *
  * Cost per batch is the measured admission bound: joinrows exactly
  * 41·|batch|, shuffle records exactly 9·|batch| (the volume probe's
  * admission-isolation arm) — corpus-independent, so sustained ingest
  * throughput does not degrade as the served index grows. New files
  * land INSIDE existing cell directories, so DPP file pruning on the
  * serving scan survives continuous admission (PartitionPruningSpec's
  * append pin; VectorStreamsSpec proves the streamed table serves
  * identically to the batch-admitted one).
  *
  * Retrain/rebalance stay SEPARATE decisions on the batch side: the
  * drift guard, the balance audit, and the gc audit read the same codes
  * table this sink feeds.
  */
object VectorStreams {

  /** The per-batch admission transform — encode an arriving (vec_id,
    * embedding) batch through the frozen artifacts into (vec_id, cell,
    * m, code) rows. Pure and batch-domain: reused by the streaming sink
    * below, by backfill jobs, and by the batch day-1 admission itself
    * (it IS [[graft.queries.SimilarityQueries.ivfpqEncodeFrozenQ]] over
    * the quantized batch). */
  def encodeBatch(batch: DataFrame, cellsT: DataFrame,
      cbT: DataFrame): DataFrame =
    graft.queries.SimilarityQueries.ivfpqEncodeFrozenQ(
      graft.operators.KMeans.quantize(batch), cellsT, cbT)

  /** Start the admission sink: every micro-batch of `vectors` (schema:
    * vec_id LONG, embedding ARRAY<FLOAT/DOUBLE>, extra columns ignored)
    * is encoded through the frozen artifacts and append-written into
    * the cell-partitioned `codesTable`. The write repartitions on the
    * cell key so each touched cell directory gains ~one file per batch
    * (the ensure-once write discipline), keeping file counts linear in
    * batches, not tasks. */
  def admit(vectors: DataFrame, codesTable: String, cellsT: DataFrame,
      cbT: DataFrame, checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        graft.queries.SimilarityQueries.saveByCell(
          encodeBatch(batch.toDF(), cellsT, cbT), codesTable, "append")
      }
      .start()
}
