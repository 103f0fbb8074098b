package graft

import java.sql.Timestamp

import graft.queries.ExtensionQueries
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch/stream equivalence for sessionization — the only oracle-less
  * surface (no DuckDB streaming), so the gate is differential instead:
  * the SAME randomly generated event set runs through the batch
  * `events_sessionized` query (event-time gap rule over a parquet table)
  * and the stateful streaming sessionizer (flatMapGroupsWithState) with
  * SHUFFLED arrival order spread across micro-batches, and the per-user
  * (n_sessions, n_events) results must be identical. Arrival disorder is
  * within watermark bounds by construction (generous lateness), which is
  * exactly the contract: inside the watermark, results must not depend on
  * arrival order or trigger boundaries, only on event time.
  */
class SessionEquivalenceSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  /** Seeded session-structured generator: per user, sessions of 1–6
    * events with intra-gaps of 1–25 min and inter-gaps of 35–120 min
    * (gap rule is 30 min; the generator stays clear of the boundary).
    * Timestamps are minute-granular and strictly increasing per user, so
    * neither engine depends on tie-breaking. */
  private def genEvents(seed: Long): Seq[Event] = {
    val rnd = new scala.util.Random(seed)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    var id = 0L
    (1L to 4L).flatMap { user =>
      var tMin = rnd.nextInt(120).toLong
      (0 until 1 + rnd.nextInt(4)).flatMap { _ =>
        tMin += 35 + rnd.nextInt(86) // inter-session gap > 30 min
        (0 until 1 + rnd.nextInt(6)).map { _ =>
          tMin += 1 + rnd.nextInt(25) // intra-session gap < 30 min
          id += 1
          Event(id, new Timestamp(base + tMin * 60000L), user,
            "click", rnd.nextInt(100) / 10.0)
        }
      }
    }
  }

  for (seed <- Seq(11L, 42L))
    test(s"shuffled streaming sessionize matches batch events_sessionized (seed $seed)") {
      implicit val sqlCtx = spark.sqlContext
      val events = genEvents(seed)

      // Batch truth: the declared query over a real parquet events table.
      val dir = tempDir(s"graft-sess$seed")
      events.toDF()
        .select(col("event_id"), (col("ts").cast("long") * 1000000000L).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = ExtensionQueries.eventsSessionized(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

      // Stream: same events, order shuffled, fed across 4 micro-batches.
      // Lateness far above the total disorder → nothing is dropped and the
      // result may depend only on event time. A far-future flush event
      // advances the watermark past every session's timeout.
      val shuffled = new scala.util.Random(seed * 7).shuffle(events)
      val mem = MemoryStream[Event]
      val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30, lateness = "7 days")
        .writeStream.format("memory").queryName(s"sess$seed")
        .outputMode(OutputMode.Update()).start()
      try {
        shuffled.grouped((shuffled.size + 3) / 4).foreach { chunk =>
          mem.addData(chunk: _*)
          q.processAllAvailable()
        }
        // Two flush batches: the first advances the watermark, the second
        // gives the engine a batch in which the now-expired timeouts fire.
        mem.addData(Event(9999, Timestamp.valueOf("2024-06-01 00:00:00"), 999L, "flush", 0.0))
        q.processAllAvailable()
        mem.addData(Event(10000, Timestamp.valueOf("2024-06-02 00:00:00"), 999L, "flush", 0.0))
        q.processAllAvailable()
      } finally q.stop()

      val streamed = spark.table(s"sess$seed")
        .filter(col("closed") && col("user_id") =!= 999L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

      assert(streamed == batch,
        s"stream=$streamed\nbatch=$batch\n(seed $seed, ${events.size} events)")
    }

  test("late-arriving earlier session stays a separate session (cross-batch disorder regression)") {
    // Round-9 review, CONFIRMED bug in the single-running-session state:
    // S2's event arriving in an earlier micro-batch than S1's events made
    // every `t - maxTs > gap` check negative, silently merging sessions
    // separated by an hour into one. The list-of-open-sessions state must
    // keep them apart under any within-watermark arrival order.
    implicit val sqlCtx = spark.sqlContext
    val s1a = Event(1, Timestamp.valueOf("2024-03-01 10:00:00"), 7L, "click", 1.0)
    val s1b = Event(2, Timestamp.valueOf("2024-03-01 10:05:00"), 7L, "click", 2.0)
    val s2 = Event(3, Timestamp.valueOf("2024-03-01 11:00:00"), 7L, "click", 4.0)
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30, lateness = "7 days")
      .writeStream.format("memory").queryName("sessLate")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(s2)          // later session arrives FIRST
      q.processAllAvailable()
      mem.addData(s1a, s1b)    // earlier session arrives late, within watermark
      q.processAllAvailable()
      mem.addData(Event(9999, Timestamp.valueOf("2024-06-01 00:00:00"), 999L, "flush", 0.0))
      q.processAllAvailable()
      mem.addData(Event(10000, Timestamp.valueOf("2024-06-02 00:00:00"), 999L, "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("sessLate")
      .filter(col("closed") && col("user_id") === 7L)
      .select(col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(closed == Set((2L, 3.0), (1L, 4.0)),
      s"expected two sessions {2 events/3.0, 1 event/4.0}, got $closed")
  }

  /** Mixed-type generator for the interval-join / dedup equivalences:
    * per user a minute-granular random walk, ~1 in 5 events an error.
    * Strictly increasing per-user times, minute granularity — no
    * tie-breaking dependence in either engine. */
  private def genMixed(seed: Long): Seq[Event] = {
    val rnd = new scala.util.Random(seed)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    var id = 0L
    (1L to 5L).flatMap { user =>
      var tMin = rnd.nextInt(60).toLong
      (0 until 30).map { _ =>
        tMin += 1 + rnd.nextInt(20)
        id += 1
        val typ = if (rnd.nextInt(5) == 0) "error"
                  else if (rnd.nextBoolean()) "click" else "view"
        Event(id, new Timestamp(base + tMin * 60000L), user, typ,
          rnd.nextInt(100) / 10.0)
      }
    }
  }

  /** Events frame with ts as long nanos — the shape the streaming
    * transforms (and the batch tables) declare. */
  private def asNanos(events: Seq[Event]) =
    events.toDF()
      .withColumn("ts", col("ts").cast("long") * 1000000000L)

  for (seed <- Seq(13L, 47L))
    test(s"shuffled stream-stream interval join matches its batch run (seed $seed)") {
      // The SAME errorContext declaration executes twice: once over a
      // batch frame (watermarks are no-ops, the join is a plain interval
      // join) and once over a MemoryStream with arrival order shuffled
      // across 4 micro-batches. Within the (generous) watermark the
      // emitted pair set may depend only on event time — equality, not
      // the fixed-fixture subset check StreamingSpec does.
      implicit val sqlCtx = spark.sqlContext
      val events = genMixed(seed)
      val batch = EventStreams.errorContext(asNanos(events), watermark = "30 days")
        .select(col("error_id"), col("action_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val shuffled = new scala.util.Random(seed * 7).shuffle(events)
      val mem = MemoryStream[Event]
      val joined = EventStreams.errorContext(
        mem.toDS().toDF().withColumn("ts", col("ts").cast("long") * 1000000000L),
        watermark = "30 days")
      val q = joined.writeStream.format("memory").queryName(s"ivj$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        shuffled.grouped((shuffled.size + 3) / 4).foreach { chunk =>
          mem.addData(chunk: _*)
          q.processAllAvailable()
        }
        // Advance BOTH side watermarks (each is derived from its own
        // filtered stream) past every pair; the flush pair is hours
        // apart so it cannot join with itself, and user 999 is foreign.
        mem.addData(
          Event(9998, Timestamp.valueOf("2024-06-01 00:00:00"), 999L, "error", 0.0),
          Event(9999, Timestamp.valueOf("2024-06-02 00:00:00"), 999L, "click", 0.0))
        q.processAllAvailable()
      } finally q.stop()

      val streamed = spark.table(s"ivj$seed")
        .filter(col("user_id") =!= 999L)
        .select(col("error_id"), col("action_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"stream-only=${streamed -- batch} batch-only=${batch -- streamed} (seed $seed)")
    }

  for (seed <- Seq(19L, 61L))
    test(s"shuffled watermark dedup emits each planted duplicate exactly once (seed $seed)") {
      // Input: the generated events plus a replay of every 3rd one (the
      // upstream-retry shape dropDuplicatesWithinWatermark exists for),
      // shuffled across 4 micro-batches, lateness far above the total
      // disorder. The batch truth is simply the original event set: the
      // streaming result must contain every event_id EXACTLY once —
      // multiset equality, so both a swallowed id and a leaked duplicate
      // fail.
      implicit val sqlCtx = spark.sqlContext
      val events = genMixed(seed)
      val dups = events.zipWithIndex.collect { case (e, i) if i % 3 == 0 => e }
      val shuffled = new scala.util.Random(seed * 7).shuffle(events ++ dups)
      val mem = MemoryStream[Event]
      val q = EventStreams.dedupEvents(
          mem.toDS().toDF().withColumn("ts", col("ts").cast("long") * 1000000000L),
          watermark = "30 days")
        .writeStream.format("memory").queryName(s"dedup$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        shuffled.grouped((shuffled.size + 3) / 4).foreach { chunk =>
          mem.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamedIds = spark.table(s"dedup$seed")
        .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(streamedIds == events.map(_.event_id).sorted,
        s"seed $seed: ${streamedIds.size} rows for ${events.size} unique events")
    }
}
