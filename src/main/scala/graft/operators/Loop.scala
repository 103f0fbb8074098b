package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftx.{Metrics, Sessions}
import org.apache.spark.sql.graftx.Metrics.{Exit, LoopEnd}

/** The one driver of the iterative operators ([[Components]],
  * [[KMeans.lloyd]], [[PageRank.iterate]], [[Lpa.iterate]],
  * [[Bpe.train]]) — hpmr's iterated mapreduce over a stored map
  * (`src/dist_map.h:255-279` of the reference). A loop body owns its inputs,
  * round step, convergence count, exit rule and output shape; [[run]]
  * owns everything else:
  *  - the conf-isolated session: a `newSession()` clone carrying the
  *    caller's runtime-set SQL confs (a lineage reading the events table
  *    needs its nanosAsLong flag), with AQE off (it schedules every tiny
  *    loop exchange as its own query stage — ~0.5 s of pure scheduling
  *    per shuffle with nothing to adapt) and shuffle width `loopParts`;
  *    the caller's conf is never touched, and cached data is shared
  *    (the cache lives on shared RDD handles);
  *  - every snapshot the body takes ([[snap]]): a flat LogicalRDD
  *    re-rooting, so iterated lineage never grows round over round
  *    (persist() keeps the full plan, and a self-referencing round
  *    DOUBLES it — measured planning 0.2 s → 1.2 s/round by round 4);
  *  - release: the body drops a snapshot the moment it is spent
  *    ([[release]], [[swap]]); when the body throws, every snapshot it
  *    still holds is released and no [[LoopEnd]] is posted; when it
  *    returns, every snapshot the result does not read is released and
  *    ONE `LoopEnd(name, rounds, exit, batches)` is posted;
  *  - the rebind of the result onto the caller's session, so downstream
  *    work runs under the caller's conf. A snapshot the result reads
  *    stays cached until the caller drops the frame (ContextCleaner
  *    unpersists weakly referenced RDDs). */
private[graft] final class Loop private (val session: SparkSession) {

  /** Snapshots still held, in the order taken. */
  private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, RDD[_])]

  /** `df` snapshotted under its own session (so an input lineage keeps
    * the caller's full shuffle width and AQE) and bound to the loop
    * session. `checkpoint` also `localCheckpoint`s the snapshot's RDD:
    * a snapshot cuts the LOGICAL plan, but the RDD dependency OBJECT
    * graph still chains round over round, and past ~15 rounds the
    * serialized task binary overflows the executor's deserialization
    * stack (measured: StackOverflowError in ObjectInputStream at
    * pagerank_iterate's 100× arm). The checkpoint truncates the graph at
    * the snapshot's first action — the GraphX periodic-checkpoint
    * practice; a cluster deployment would checkpoint reliably. */
  def snap(df: DataFrame, checkpoint: Boolean = false): DataFrame = {
    val (rdd, s) = Sessions.snapshot(df)
    if (checkpoint) rdd.localCheckpoint()
    val bound = if (s.sparkSession eq session) s else Sessions.rebind(s, session)
    held += bound -> rdd
    bound
  }

  /** Drops the cache of `df`, a snapshot this loop took. */
  def release(df: DataFrame): Unit = {
    val i = held.indexWhere(_._1 eq df)
    if (i >= 0) held.remove(i)._2.unpersist(blocking = false)
  }

  /** The per-round swap: releases `spent` and returns `next`. */
  def swap(spent: DataFrame, next: DataFrame): DataFrame = {
    release(spent)
    next
  }

  /** Runs `step(round)` from round 0 until it returns true or `cap`
    * rounds have run; returns (rounds run, whether `step` returned
    * true). */
  def rounds(cap: Int)(step: Int => Boolean): (Int, Boolean) = {
    var round = 0
    var done = false
    while (round < cap && !done) {
      done = step(round)
      round += 1
    }
    (round, done)
  }

  /** Releases every held snapshot whose RDD `out`'s plan does not read. */
  private def releaseUnread(out: DataFrame): Unit = {
    val read = out.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    held.filterNot { case (_, r) => read.exists(_ eq r) }.foreach { case (df, _) => release(df) }
  }
}

private[graft] object Loop {

  /** What a loop body returns: its result frame (on the loop session)
    * and the [[LoopEnd]] fields it reports. */
  final case class Done(out: DataFrame, rounds: Int, exit: Exit, batches: Int = -1)

  /** Runs `body` on a fresh loop session cloned from `parent` (see the
    * class doc) and returns its result rebound onto `parent`. */
  def run(name: String, parent: SparkSession, loopParts: Int)(body: Loop => Done): DataFrame = {
    val s = parent.newSession()
    Sessions.copyRuntimeConf(parent, s)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val loop = new Loop(s)
    var done: Done = null
    try done = body(loop)
    finally if (done == null) loop.held.foreach(_._2.unpersist(blocking = false))
    loop.releaseUnread(done.out)
    Metrics.loopEnd(parent, LoopEnd(name, done.rounds, done.exit, done.batches))
    Sessions.rebind(done.out, parent)
  }
}
