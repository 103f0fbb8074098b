package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** private[sql] bridge for re-binding a DataFrame's logical plan onto a
  * different (e.g. `newSession()`-cloned) SparkSession, so iterative
  * operators can run under isolated SQL conf (AQE off, narrow shuffle
  * width) WITHOUT mutating the caller's session-global conf. Cached data
  * is shared across sessions (CacheManager lives in SharedState), so
  * persists made under the clone remain visible to the parent. Like
  * [[Bridge]]/[[Registry]], this lives in the org.apache.spark.sql
  * namespace purely for private[sql] access; no logic of its own.
  */
object Sessions {
  /** Rebinds the ANALYZED plan, not the raw logical plan: temp views are
    * session-scoped, so an UnresolvedRelation would re-resolve (or fail)
    * in the target session, while the analyzed plan carries its resolved
    * relations with it. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame =
    classic.Dataset.ofRows(
      target.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Wraps an (analyzed) logical plan as a DataFrame — diagnostic/test
    * plumbing for executing plan SUBTREES in isolation (e.g. the window
    * guard spec counts the rows actually feeding a Window node). */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** `newSession()` starts from builder-time options only; copy the
    * source session's explicitly-set, modifiable SQL confs (e.g. a
    * runtime-set parquet nanosAsLong) so rebound plans keep their
    * semantics. Static/non-modifiable entries are skipped. */
  def copyRuntimeConf(from: SparkSession, to: SparkSession): Unit =
    from.conf.getAll.foreach { case (k, v) =>
      if (to.conf.isModifiable(k) && to.conf.getOption(k) != Some(v))
        to.conf.set(k, v)
    }

  /** Iteration snapshot: the Dataset re-rooted on its own (lazily)
    * computed internal RDD — a flat LogicalRDD plan — so iterative
    * operators don't accumulate a logical plan that DOUBLES round over
    * round (persist() caches data but keeps full lineage, and
    * analyzer/optimizer cost grows with the tree: measured +0.2 s → +1.2 s
    * per round by round 4 of connected components). This is what
    * `Dataset.localCheckpoint` does, except the caller gets the RDD
    * handle back for DETERMINISTIC unpersist — at 100 TB a label table is
    * GBs per round, and waiting on GC-driven ContextCleaner cleanup across
    * 20+ rounds would hoard the cluster's storage memory. Rows are copied
    * before caching (codegen reuses row buffers). Nothing materializes
    * until the first action on the returned frame.
    *
    * Every snapshot is ALSO tracked in a context-level registry: query
    * builders with the fixed `(SparkSession, String) => DataFrame` shape
    * have nowhere to thread the handle, so a long-lived harness (bench
    * reps, the verify loop) calls [[releaseSnapshots]] once a query's
    * terminal action completes instead of waiting on GC-driven
    * ContextCleaner cleanup — one-to-two corpus-scale cached RDDs per
    * query invocation otherwise pile up for the JVM's life. Unpersisting
    * only drops cached blocks; a released frame re-executed later
    * recomputes from lineage, still correct. */
  def snapshot(df: DataFrame): (RDD[InternalRow], DataFrame) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Opportunistic prune (ADVICE round 5): a library caller that never
    // invokes releaseSnapshots still gets GC-driven unpersist of the RDDs
    // themselves (weak refs), but the dead WeakReference WRAPPERS were
    // only drained inside releaseSnapshots — one wrapper leaked per
    // snapshot for the JVM's life. Sweeping cleared refs every 64 adds
    // amortizes to O(1) per snapshot and bounds the queue by live
    // snapshots + 64.
    if (snapCount.incrementAndGet() % 64 == 0)
      tracked.removeIf(_.get == null)
    tracked.add(new java.lang.ref.WeakReference(rdd))
    // The snapshot's joins execute under ITS QueryExecution — invisible
    // to any action listener on the parent frame. While a measurement
    // window is open ([[beginPlanCapture]]), retain the executed plan
    // STRONGLY so Metrics.measure can include its
    // numOutputRows in the measured block's join total — a weak
    // reference here lost plans to GC under exactly the corpus-scale
    // memory pressure the probes create, silently corrupting the
    // join-rows and plan-shape gates (round-9 review). Outside a capture
    // window nothing is retained, so library callers pay nothing.
    if (planCaptureActive.get())
      capturedPlans.add(df.queryExecution.executedPlan)
    // Snapshot-CHILD formatted plans for `Inspect explain` (round-18
    // verdict #5: a rewrite below a snapshot leaf is invisible in the
    // parent query's formatted plan — the round-18 Generate pair expansion
    // had to be verified from code + stage profiles instead of plans/).
    // Only while a text-capture window is open: explainString plans the
    // child QE, which is pure waste in Bench/Verify.
    if (planTextCaptureActive.get())
      capturedPlanTexts.add(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val snap = classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession],
      LogicalRDD.fromDataset(rdd, df.asInstanceOf[classic.Dataset[Row]],
        isStreaming = false))
    (rdd, snap)
  }

  /** [[snapshot]] with the ORIGIN-STATS propagation dropped: the returned
    * frame's LogicalRDD leaf reports `spark.sql.defaultSizeInBytes`
    * instead of the origin subtree's size estimate. `fromDataset` copies
    * the origin plan's statistics onto the leaf so checkpoint-style cuts
    * keep whatever the optimizer believed — but for a snapshot of a deep
    * bounded-cross-join training chain (the IVFPQR index build) that
    * belief is a PRODUCT of the chain's join sizes (~10¹¹⁴ bytes at
    * fixture scale — 96 orders of magnitude above the physical row
    * count), and it poisons every size-driven decision downstream of the
    * snapshot; concretely it makes dynamic-partition-pruning's benefit
    * check (`filterRatio · prunedScanBytes > Σ buildLeafBytes`)
    * unsatisfiable at ANY ratio, because the build side's leaf "size" is
    * float-infinite. Partitioning/ordering/constraints propagation is
    * identical to [[snapshot]]; only the stats option is None. Use for
    * snapshots whose origin estimate is known-garbage AND whose consumers
    * make size-driven choices (DPP); the default [[snapshot]] stays for
    * everything else, where a small true origin estimate can still win an
    * un-hinted broadcast election. */
  def snapshotFlatStats(df: DataFrame): (RDD[InternalRow], DataFrame) = {
    val (rdd, snap) = snapshot(df)
    val flat = snap.queryExecution.analyzed match {
      case l: LogicalRDD =>
        // Constraints ride through unchanged (ADVICE round 16: passing
        // None here silently dropped the origin's not-null/filter
        // inference too, falsifying this method's "only stats differ"
        // contract): `l.constraints` is the public view of the origin
        // constraints `fromDataset` copied onto the snapshot leaf.
        LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[classic.SparkSession], None,
          Some(l.constraints))
      case other => other // defensive: snapshot always returns a LogicalRDD root
    }
    (rdd, classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[classic.SparkSession], flat))
  }

  /** WEAK references (ADVICE round 4): the registry must never be the
    * thing keeping a snapshot alive. A caller that never invokes
    * [[releaseSnapshots]] — a library user, the ~20 shared-JVM test
    * suites — still gets GC-driven ContextCleaner unpersist once its
    * query's DataFrame is dropped; a strong queue here would pin every
    * corpus-scale cached RDD for the JVM's life, the exact hoarding the
    * registry exists to prevent. */
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[RDD[InternalRow]]]
  private val snapCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private val planCaptureActive = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val capturedPlans = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.execution.SparkPlan]

  private val planTextCaptureActive = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val capturedPlanTexts = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Opens a snapshot-child FORMATTED-PLAN capture window (`Inspect
    * explain` evidence plumbing — see the note in [[snapshot]]). Single-threaded
    * harness contract, like [[beginPlanCapture]]. */
  def beginPlanTextCapture(): Unit = {
    capturedPlanTexts.clear()
    planTextCaptureActive.set(true)
  }

  /** Closes the window, returning each snapshot child's formatted plan
    * in snapshot order. Idempotent: a second call returns empty. */
  def endPlanTextCapture(): Seq[String] = {
    planTextCaptureActive.set(false)
    val out = Seq.newBuilder[String]
    var t = capturedPlanTexts.poll()
    while (t != null) {
      out += t
      t = capturedPlanTexts.poll()
    }
    out.result()
  }

  /** Opens a plan-capture window: subsequent snapshots retain their
    * executed plans (strongly) until [[endPlanCapture]]. Measurement
    * plumbing for [[Metrics.measure]]; same single-threaded
    * harness contract as [[releaseSnapshots]]. Discards anything left by
    * earlier, unmeasured work. */
  def beginPlanCapture(): Unit = {
    capturedPlans.clear()
    planCaptureActive.set(true)
  }

  /** Closes the capture window, returning (and releasing) the executed
    * plans of every snapshot taken inside it. Idempotent: a second call
    * returns empty. */
  def endPlanCapture(): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    planCaptureActive.set(false)
    val out = Seq.newBuilder[org.apache.spark.sql.execution.SparkPlan]
    var p = capturedPlans.poll()
    while (p != null) {
      out += p
      p = capturedPlans.poll()
    }
    out.result()
  }

  /** Unpersists (non-blocking) every snapshot taken since the last call
    * and returns how many were released (already-GC'd entries just drop
    * off — ContextCleaner has them). Idempotent with callers that
    * already unpersist their own handles (graft.operators.Loop): RDD.unpersist on an
    * uncached RDD is a no-op.
    *
    * RE-EXECUTION CAVEAT (round-14 ADVICE): "a released frame
    * re-executed later recomputes from lineage" holds only for
    * snapshots whose physical lineage is intact. A snapshot whose
    * internal RDD — or an ANCESTOR in its dependency graph — was
    * `localCheckpoint()`ed (the deep-loop discipline, see
    * graft.operators.Loop.snap) has that lineage deliberately truncated:
    * after release, re-executing such a frame throws
    * (checkpoint block not found) instead of recomputing. Deep-loop
    * results must therefore be consumed (collected / written) BEFORE
    * releaseSnapshots; every declared query's Verify/Bench path does
    * exactly that.
    *
    * HARNESS-SCOPED, single-threaded by contract: the registry is
    * JVM-global, so a release while another query is mid-flight would
    * unpersist THAT query's in-flight snapshots too — still correct
    * (lineage recompute) but a silent recompute storm for iterative
    * callers. Bench/Verify satisfy the contract by running queries
    * strictly one at a time and releasing only between them; concurrent
    * library callers should skip this API and rely on the GC path. */
  def releaseSnapshots(): Int = {
    var n = 0
    var ref = tracked.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        rdd.unpersist(blocking = false)
        n += 1
      }
      ref = tracked.poll()
    }
    n
  }
}
