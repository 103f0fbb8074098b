package org.apache.spark.sql.graftx

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement window: [[measure]] runs a block of Spark actions
  * and returns what it cost — per-stage task metrics, the executed
  * plans, and the [[LoopEnd]] records of the driver loops that finished
  * inside it. Bench, Inspect, VolumeProbe and the specs all measure
  * through it. Wall-clock on a shared VM includes multi-second host
  * stalls that have nothing to do with the plan under test, while
  * `executorCpuTime` and the record counts measure the WORK — a quadratic
  * regression burns ~100× CPU at 10× input however noisy the host is.
  * Lives in the org.apache.spark namespace for `listenerBus` access
  * (listener events are async; without the drains a window would miss
  * its own last stages and catch the previous block's late ones). */
object Metrics {

  /** Work counters for one measured block. `cpuSec` excludes GC threads
    * and off-CPU I/O waits, so a spill-/GC-bound regression can be
    * CPU-light — gate it together with `diskSpilledBytes` (host-noise-free
    * like CPU, and the signature of exactly that failure mode).
    * `shuffleRecordsRead` scales with the data actually moved between
    * stages — at 10× input a linear plan reads ~10× shuffle records.
    * `joinOutputRows` (round-6 verdict #2) sums the join operators'
    * `numOutputRows` SQLMetrics across every plan executed in the block:
    * the one quadratic the other three counters cannot see is a hash-join
    * blow-up whose pairs collapse into an aggregate in the SAME stage —
    * no extra shuffle records, no spill, plan shape sane — but the join
    * node's own output-row metric counts every generated pair, and like
    * the other gated quantities it is a property of the plan, not the
    * host.
    *
    * `incomplete` is true when a listener-bus drain timed out: some
    * stage/execution events may not have been delivered (or a previous
    * block's may have leaked in), so the counters are not exact.
    * Consumers that gate on these numbers must surface the flag in their
    * artifact (round-9 ADVICE: a silently partial rep read as complete)
    * so the rep can be discounted or re-run instead of trusted. */
  final case class TaskWork(cpuSec: Double, shuffleRecordsRead: Long,
      diskSpilledBytes: Long, joinOutputRows: Long = 0L,
      incomplete: Boolean = false)

  /** How a driver loop ended. */
  sealed trait Exit
  object Exit {
    /** Nothing changed since the previous round (within tolerance). */
    case object Fixpoint extends Exit
    /** Labels equal those of two rounds ago: the synchronous-LPA 2-cycle. */
    case object TwoCycle extends Exit
    /** The round (or merge) budget ran out. */
    case object Cap extends Exit
    /** No work was left before the budget ran out (BPE's early stop). */
    case object Exhausted extends Exit
  }

  /** One driver loop's outcome, posted on the listener bus by the loop
    * ([[loopEnd]]) when it finishes; a loop that throws posts nothing.
    * `batches` is BPE's driver-round count (merges are its `rounds`), -1
    * for the other loops. Not written to the event log. */
  final case class LoopEnd(loop: String, rounds: Int, exit: Exit,
      batches: Int = -1) extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  /** Posts `e` for any open [[measure]] window; without one it costs an
    * event on the bus and nothing else. */
  def loopEnd(spark: SparkSession, e: LoopEnd): Unit =
    spark.sparkContext.listenerBus.post(e)

  /** What one [[measure]] window saw: the summed [[TaskWork]], the
    * executed plans (action QueryExecutions, then snapshot plans), every
    * completed stage's info with its task metrics, and the [[LoopEnd]]
    * records in posting order. */
  final case class Measured(work: TaskWork, plans: Seq[SparkPlan],
      stages: Seq[StageInfo], loops: Seq[LoopEnd]) {
    /** The last record of loop `name`, if one finished in the window. */
    def loop(name: String): Option[LoopEnd] = loops.findLast(_.loop == name)
  }

  /** Runs `body` inside one measurement window.
    *
    * The window opens by DRAINING the listener bus, so events the
    * previous block posted but the bus had not yet delivered (a late
    * execution-end carries that query's join rows) land before anything
    * here is registered. Inside, a SparkListener collects completed
    * stages and [[LoopEnd]] records, and a QueryExecutionListener every
    * action's QueryExecution (the noop write the probes run is a NEW
    * QueryExecution, not the measured frame's own — walking
    * `df.queryExecution` would read never-executed zero metrics); the
    * [[Sessions.beginPlanCapture]] window adds the executed plans of
    * snapshots taken inside the block, whose joins run under their own
    * QueryExecution that no action listener sees. The window closes with
    * a second drain. The plans let a caller run post-execution
    * plan-shape checks (e.g. [[hasNestedLoop]]) on what actually ran —
    * the FINAL adaptive plan after any AQE re-plan, which the
    * pre-execution `queryExecution.sparkPlan` cannot show (round-6
    * ADVICE). Single-threaded by the same harness contract as
    * [[Sessions.releaseSnapshots]]. */
  def measure[T](spark: SparkSession)(body: => T): (T, Measured) = {
    val sc = spark.sparkContext
    val opened = flushListeners(sc)
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val loops = new ConcurrentLinkedQueue[LoopEnd]
    val qes = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics != null) stages.add(e.stageInfo)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case l: LoopEnd => loops.add(l)
        case _ =>
      }
    }
    val execListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = qes.add(qe)
    }
    // Setup sits INSIDE the try: if any step throws, the finally still
    // pairs endPlanCapture/unregister with whatever did happen, so a
    // failed setup can't leave the JVM-global capture window open
    // (round-9 ADVICE). Every cleanup call is a safe no-op when its setup
    // never ran.
    try {
      Sessions.beginPlanCapture()
      sc.addSparkListener(listener)
      spark.listenerManager.register(execListener)
      val result = body
      val closed = flushListeners(sc)
      // onFailure enqueues QEs whose lazy executedPlan may RETHROW the
      // original failure when forced — a caller that handled its own
      // per-query error must not lose the whole measured block at
      // readout (round-9 review), so undecodable plans are skipped.
      val plans = qes.asScala
        .flatMap(qe => scala.util.Try(qe.executedPlan).toOption).toSeq ++
        Sessions.endPlanCapture()
      val st = stages.asScala.toSeq
      val ms = st.map(_.taskMetrics)
      val work = TaskWork(ms.map(_.executorCpuTime).sum / 1e9,
        ms.map(_.shuffleReadMetrics.recordsRead).sum,
        ms.map(_.diskBytesSpilled).sum, joinOutputRows(plans),
        incomplete = !(opened && closed))
      (result, Measured(work, plans, st, loops.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(execListener)
      sc.removeSparkListener(listener)
      Sessions.endPlanCapture() // idempotent; ensures the flag is off on failure
    }
  }

  /** Drains the listener bus so async stage/execution events posted by
    * the preceding actions are delivered, returning true iff the bus
    * fully drained. A backlogged bus (this host's stall episodes last
    * minutes) makes `waitUntilEmpty` THROW TimeoutException;
    * slightly-incomplete metrics are strictly better than killing a
    * whole bench/probe run at its last step, so the timeout is swallowed
    * with a stderr note — but the `false` return propagates into
    * [[TaskWork.incomplete]] so downstream artifacts record the rep as
    * partial rather than trusting it (round-9 ADVICE). Public so harness
    * mains outside org.apache.spark can flush between phases. */
  def flushListeners(sc: SparkContext, timeoutMs: Long = 30000): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[graftx] listener bus not drained within $timeoutMs ms; metrics may be incomplete")
        false
    }

  /** True if any plan contains a BroadcastNestedLoopJoin or
    * CartesianProduct node — STRUCTURAL, on the final adaptive plan (AQE
    * roots descend through `executedPlan`, never the initial plan), so a
    * runtime re-plan into a nested loop is visible and a replanned-away
    * initial-plan node is not, unlike string-matching the tree dump. */
  def hasNestedLoop(plans: Seq[SparkPlan]): Boolean =
    nestedLoopCount(plans) > 0 || hasCartesian(plans)

  /** AQE-aware children: adaptive roots descend through the FINAL
    * executed plan, stages through their materialized plan.
    * `p.subqueries`: scalar/IN-subquery plans hang off EXPRESSIONS, not
    * children — without descending them a node inside a subquery would be
    * invisible to the gates (round-9 review). */
  private def planKids(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case qs: QueryStageExec => Seq(qs.plan)
    case o => o.children
  }) ++ p.subqueries

  private def collectNodes(plans: Seq[SparkPlan])(
      pred: SparkPlan => Boolean): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = Seq.newBuilder[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      if (pred(p)) out += p
      planKids(p).foreach(walk)
    }
    plans.foreach(walk)
    out.result()
  }

  /** BroadcastNestedLoopJoin node count — for probe entries whose
    * DECLARED plan legitimately carries bounded (≤ k-row broadcast)
    * cross joins, the gate pins this count equal across probe arms
    * instead of forbidding the node class outright (round-13: the
    * kmeans/dsir VolumeProbe entries). */
  def nestedLoopCount(plans: Seq[SparkPlan]): Int = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    collectNodes(plans) {
      case _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }.size
  }

  /** True if any plan contains an un-broadcast CartesianProduct — never
    * acceptable, bounded-BNLJ posture or not. */
  def hasCartesian(plans: Seq[SparkPlan]): Boolean = {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    collectNodes(plans) {
      case _: CartesianProductExec => true
      case _ => false
    }.nonEmpty
  }

  /** Count of broadcast subtrees (BroadcastExchange, descending AQE
    * stages) that contain a file-source scan whose location path matches
    * `pathSubstr` — the structural form of "a corpus-growing relation
    * was broadcast", recorded by the dsir probe entry at both arms to
    * evidence the elected join side (round-12 verdict #1). */
  def broadcastsContainingScan(plans: Seq[SparkPlan], pathSubstr: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val exchanges = collectNodes(plans) {
      case _: BroadcastExchangeExec => true
      case _ => false
    }
    exchanges.count { ex =>
      collectNodes(Seq(ex)) {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(pathSubstr))
        case _ => false
      }.nonEmpty
    }
  }

  /** Sum of `numOutputRows` over every join node (BaseJoinExec covers
    * sort-merge, shuffled-hash, broadcast-hash, broadcast-nested-loop and
    * cartesian) reachable from `plans`, descending through AQE roots
    * (`executedPlan` is the FINAL adaptive plan post-execution) and query
    * stages. Identity-dedup guards against a plan reachable twice (e.g.
    * a stage reused under two parents) double-counting its metric. */
  def joinOutputRows(plans: Seq[SparkPlan]): Long =
    collectNodes(plans)(_.isInstanceOf[BaseJoinExec])
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
}
