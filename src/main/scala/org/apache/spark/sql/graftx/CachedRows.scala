package org.apache.spark.sql.graftx

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.util.CallSite

/** private[sql] read access to the in-memory cache (`Dataset.persist`)
  * that serves a Dataset, so a point read can run one job over the cached
  * batches instead of planning a SQL query. Like [[Bridge]] and
  * [[Sessions]], this lives in the org.apache.spark.sql namespace only for
  * the sql-private CacheManager, encoder and call-site access; matching a
  * key is the caller's (graft.core.Graft). */
object CachedRows {

  /** The rows of the cache entry that serves `ds`'s whole plan, in `ds`'s
    * output order, or None when no entry does (never cached, cleared, or a
    * Dataset derived from a cached one). Looked up on every call and never
    * remembered: a store that was cleared and cached again must be read
    * from its current InMemoryRelation, not from the released one. The
    * cache entry's output is positionally `ds`'s (the CacheManager matches
    * plans by `sameResult`), so callers address columns by `ds.schema`.
    * Reading the rows materializes the cache if no action has yet. */
  def of(ds: Dataset[_]): Option[RDD[InternalRow]] = {
    val cds = ds.asInstanceOf[classic.Dataset[_]]
    val session = cds.sparkSession
    session.sharedState.cacheManager.lookupCachedData(cds).map { cd =>
      val rel = cd.cachedRepresentation
      val builder = rel.cacheBuilder
      builder.serializer.convertCachedBatchToInternalRow(
        builder.cachedColumnBuffers, rel.output, rel.output, session.sessionState.conf)
    }
  }

  /** `ds`'s own encoder bound to `ds`'s output: decodes one row of [[of]]
    * into a T. Serializable; not thread-safe, so each task decodes with its
    * own deserialized copy. */
  def decoder[T](ds: Dataset[T]): InternalRow => T = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    cds.exprEnc.resolveAndBind(cds.logicalPlan.output).createDeserializer()
  }

  /** Runs `body` with `site` as the short call site of the jobs it submits
    * (the name the Spark UI and event log give a job that runs under no
    * SQL execution), then restores the caller's. The job group and job
    * description are left as the caller set them. */
  def withCallSite[A](sc: SparkContext, site: String)(body: => A): A = {
    val prev = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setCallSite(site)
    try body finally sc.setLocalProperty(CallSite.SHORT_FORM, prev)
  }
}
