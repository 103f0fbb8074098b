package org.apache.spark.sql.graftx

import org.apache.spark.{Partition, SparkContext, SparkEnv, SparkException, TaskContext}
import org.apache.spark.rdd.{BlockRDD, BlockRDDPartition, RDD}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.{BlockId, RDDBlockId}
import org.apache.spark.util.CallSite

/** private[sql] read access to one entry of the in-memory cache
  * (`Dataset.persist`): a point read runs one job over the cache's
  * batches instead of planning a SQL query. When the cache is
  * materialized the job reads the cached blocks themselves through a
  * lineage-free RDD ([[CachedBlocks]]), and when the entry's final plan
  * is hash-partitioned on the key column it reads only the block that
  * owns the key, as hpmr reads only the owner's table (`hash(k) %
  * n_procs`). Like [[Bridge]] and [[Sessions]], this lives in the
  * org.apache.spark.sql namespace only for the sql-private CacheManager,
  * block, plan, encoder and call-site access; matching a key is the
  * caller's (graft.core.Graft).
  *
  * A handle is looked up per call ([[CachedRows.of]]) and never
  * remembered: a store that was cleared and cached again must be read
  * from its current InMemoryRelation, not from the released one. */
final class CachedRows private (rel: InMemoryRelation, session: classic.SparkSession) {
  private val builder = rel.cacheBuilder

  /** The cache's persisted batches, one block per partition. Asking for
    * them registers the cache's RDD if no action has yet. */
  def batches: RDD[CachedBatch] = builder.cachedColumnBuffers

  /** The partition whose cached block holds every row whose first column
    * (a store's key `_1`) equals `v`, a Catalyst internal value of type
    * `t`, when the cache is materialized and its final plan reports
    * `HashPartitioning` on exactly that column, else None. The partition
    * is Spark's own `partitionIdExpression` evaluated with the column
    * replaced by the key, not a copy of the hash. */
  def owner(v: Any, t: DataType): Option[Int] =
    if (!builder.isCachedColumnBuffersLoaded) None
    else {
      val key = rel.output.head.exprId
      val plan = builder.cachedPlan match {
        case a: AdaptiveSparkPlanExec => Some(a).filter(_.isFinalPlan).map(_.executedPlan)
        case p => Some(p)
      }
      plan.map(_.outputPartitioning).collect {
        case hp @ HashPartitioning(Seq(a: Attribute), n)
            if a.exprId == key && n == batches.getNumPartitions =>
          hp.partitionIdExpression.transform {
            case b: Attribute if b.exprId == key => Literal(v, t)
          }.eval().asInstanceOf[Int]
      }
    }

  /** The first row satisfying `hit` in `partition`'s cached block, or in
    * every block when None, copied; found by one job named `site`. The job
    * reads the blocks with no lineage when every one has a location;
    * otherwise, or when a block vanishes while the job runs, it reads them
    * through the cache's lineage, which recomputes each missing block and
    * stores it again. Correctness never depends on the block read. */
  def find(site: String, partition: Option[Int])(hit: InternalRow => Boolean): Option[InternalRow] = {
    val sc = session.sparkContext
    val partitions = partition.fold[Seq[Int]](0 until batches.getNumPartitions)(Seq(_))
    val first = (it: Iterator[InternalRow]) => it.find(hit).map(_.copy())
    def rows(in: RDD[CachedBatch]): RDD[InternalRow] =
      builder.serializer.convertCachedBatchToInternalRow(in, rel.output, rel.output, session.sessionState.conf)
    def viaLineage = sc.runJob(rows(batches), first, partitions)
    CachedRows.withCallSite(sc, site) {
      if (!builder.isCachedColumnBuffersLoaded) viaLineage
      else {
        val blocks = new CachedBlocks(sc, partitions.map(RDDBlockId(batches.id, _): BlockId).toArray)
        if (!blocks.allLocated) viaLineage
        else try sc.runJob(rows(blocks), first) catch {
          case e: SparkException if CachedRows.blockGone(e) => viaLineage
        }
      }
    }.collectFirst { case Some(r) => r }
  }
}

object CachedRows {

  /** The cache entry that serves `ds`'s whole plan, or None when no entry
    * does (never cached, cleared, or a Dataset derived from a cached one).
    * The entry's output is positionally `ds`'s (the CacheManager matches
    * plans by `sameResult`), so callers address columns by `ds.schema`. */
  def of(ds: Dataset[_]): Option[CachedRows] = {
    val cds = ds.asInstanceOf[classic.Dataset[_]]
    cds.sparkSession.sharedState.cacheManager.lookupCachedData(cds)
      .map(cd => new CachedRows(cd.cachedRepresentation, cds.sparkSession))
  }

  /** `ds`'s own encoder bound to `ds`'s output: decodes one row of a
    * [[CachedRows]] into a T. Serializable; not thread-safe, so each task
    * decodes with its own deserialized copy. */
  def decoder[T](ds: Dataset[T]): InternalRow => T = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    cds.exprEnc.resolveAndBind(cds.logicalPlan.output).createDeserializer()
  }

  /** Runs `body` with `site` as the short call site of the jobs it submits
    * (the name the Spark UI and event log give a job that runs under no
    * SQL execution), then restores the caller's. The job group and job
    * description are left as the caller set them. */
  private def withCallSite[A](sc: SparkContext, site: String)(body: => A): A = {
    val prev = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setCallSite(site)
    try body finally sc.setLocalProperty(CallSite.SHORT_FORM, prev)
  }

  /** Whether a failed job failed because a cached block was gone. */
  private def blockGone(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[CachedBlockGone])
}

/** A task of [[CachedBlocks]] found no copy of its block. */
private[graftx] final class CachedBlockGone(id: BlockId)
  extends Exception(s"cached block $id is gone")

/** The given cached blocks as an RDD with no lineage: a task reads its
  * block from the block manager and fails with [[CachedBlockGone]] if no
  * copy is left, instead of recomputing it. Like a cache hit in
  * `RDD.getOrCompute`, it counts the block's bytes and each batch it
  * reads in the task's input metrics. */
private[graftx] final class CachedBlocks(sc: SparkContext, ids: Array[BlockId])
    extends BlockRDD[CachedBatch](sc, ids) {

  /** Whether the block manager master knows a location of every block. */
  def allLocated: Boolean = {
    val locations = getBlockIdLocations()
    ids.forall(id => locations.get(id).exists(_.nonEmpty))
  }

  override def compute(split: Partition, context: TaskContext): Iterator[CachedBatch] = {
    val id = split.asInstanceOf[BlockRDDPartition].blockId
    val block = SparkEnv.get.blockManager.get[CachedBatch](id).getOrElse(throw new CachedBlockGone(id))
    val input = context.taskMetrics().inputMetrics
    input.incBytesRead(block.bytes)
    block.data.map { b => input.incRecordsRead(1); b.asInstanceOf[CachedBatch] }
  }
}
