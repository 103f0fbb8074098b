package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.graftx.Metrics

/** The measurement window counts only what ran inside it. */
class MetricsSpec extends SparkSpec {

  test("a window opened right after a join counts none of the join's late events") {
    // The listener stalls the shared bus queue on its first event after
    // arming, so the join's execution-end and stage events are still
    // queued when the join returns and the window opens at once. A
    // window that registered before draining would catch them: the
    // join's plan and its join rows.
    val armed = new AtomicBoolean(false)
    val staller = new SparkListener {
      private def stall(): Unit = if (armed.getAndSet(false)) Thread.sleep(500)
      override def onJobStart(e: SparkListenerJobStart): Unit = stall()
      override def onOtherEvent(e: SparkListenerEvent): Unit = stall()
    }
    def join(): Long = spark.range(1000).join(spark.range(1000), "id").count()
    assert(join() == 1000L) // warm, so the armed run finishes inside the stall
    spark.sparkContext.addSparkListener(staller)
    try {
      armed.set(true)
      assert(join() == 1000L)
      val (_, m) = Metrics.measure(spark)(())
      assert(m.plans.isEmpty, s"${m.plans.size} plans from before the window")
      assert(m.work.joinOutputRows == 0L, m.work.toString)
      assert(m.stages.isEmpty, s"${m.stages.size} stages from before the window")
    } finally spark.sparkContext.removeSparkListener(staller)
  }
}
