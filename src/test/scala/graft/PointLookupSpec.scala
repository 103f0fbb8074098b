package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftx.{CachedRows, Metrics}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.core.Graft

/** `Graft.get`/`has` on a store the in-memory cache serves: one job over
  * the cached batches, no SQL execution, and the same answers as the
  * planned filter on the uncached store for every key type and layout. */
class PointLookupSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  /** `body`'s result, the SQL executions and jobs it ran, and the name of
    * each job's result stage (its call site). Jobs are counted in a job
    * group set around `body`, which it must leave as set. */
  private def counted[A](body: => A): (A, Int, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val group = "point-lookup-spec"
    val executions = new AtomicInteger
    val jobs = new AtomicInteger
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          // the result stage; the others are the cache's skipped parents
          stageNames.add(e.stageInfos.maxBy(_.stageId).name)
        }
    }
    Metrics.flushListeners(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(sl)
    sc.setJobGroup(group, "point lookup")
    try {
      val a = body
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("spark.job.description") == "point lookup")
      Metrics.flushListeners(sc)
      import scala.jdk.CollectionConverters._
      (a, executions.get, jobs.get, stageNames.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(sl)
      spark.listenerManager.unregister(qel)
    }
  }

  /** Answers every key on `mk()` uncached, then caches and materializes a
    * fresh copy and checks that the cached answers agree with those and
    * with `want` (key -> value when present), and that they ran no SQL
    * execution — or, when `planned`, one per get and per has. */
  private def agree[K, V](mk: () => Dataset[(K, V)], keys: Seq[K], default: V,
                          want: Map[K, V], planned: Boolean = false): Unit = {
    def answers(s: Dataset[(K, V)]) = keys.map(k => (Graft.get(s, k, default), Graft.has(s, k)))
    val expected = keys.map(k => (want.getOrElse(k, default), want.contains(k)))
    val plain = mk()
    assert(CachedRows.of(plain).isEmpty)
    assert(answers(plain) == expected, "uncached")
    val store = Graft.cache(mk())
    try {
      store.count()
      val (got, executions, _, _) = counted(answers(store))
      assert(got == expected, "cached")
      assert(executions == (if (planned) 2 * keys.size else 0), "SQL executions")
    } finally Graft.clear(store)
  }

  test("String, Long and Int keys: hit and miss agree cached and uncached") {
    agree(() => Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS(), Seq("bb", "zz"), -1L,
      Map("bb" -> 2L))
    agree(() => Seq((10L, "x"), (20L, "y")).toDS(), Seq(20L, 30L), "-",
      Map(20L -> "y"))
    agree(() => Seq((1, 1.5), (2, 2.5)).toDS(), Seq(1, 3), 0.0, Map(1 -> 1.5))
  }

  test("empty cached store: every key is absent") {
    agree(() => spark.emptyDataset[(String, Long)], Seq("aa", ""), -1L, Map.empty)
  }

  test("a null String key present in the store is found") {
    agree(() => Seq((null: String, 7L), ("a", 1L)).toDS(), Seq(null: String, "a", "b"), -1L,
      Map((null: String) -> 7L, "a" -> 1L))
  }

  test("a NaN Double key is never found") {
    agree(() => Seq((Double.NaN, 1L), (1.5, 2L)).toDS(), Seq(Double.NaN, 1.5, 2.5), -1L,
      Map(1.5 -> 2L))
  }

  test("(Int, String) product keys") {
    agree(() => Seq(((1, "a"), 10L), ((2, "b"), 20L)).toDS(), Seq((2, "b"), (2, "a")), -1L,
      Map((2, "b") -> 20L))
  }

  test("a parquet store written as (_2, _1) is matched on the column named _1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lookup").toString + "/store"
    Seq((100L, 1L), (200L, 2L)).toDF("_2", "_1").write.mode("overwrite").parquet(dir)
    // `as[(K, V)]` binds a tuple by ordinal, so a row decodes as (file _2,
    // file _1), while the key predicate reads the column NAMED _1: key 2
    // finds the row (_2 = 200, _1 = 2) and returns its decoded _2, which is
    // 2; key 200 is absent. The cached path must find the same rows.
    agree(() => spark.read.parquet(dir).as[(Long, Long)], Seq(2L, 200L, 4L), -1L,
      Map(2L -> 2L))
    LocalFiles.rmTree(dir)
  }

  test("a Long key on an Int column read as Long keeps the planned cast-and-compare") {
    agree(() => Seq((1, 10L), (2, 20L)).toDF("_1", "_2").as[(Long, Long)], Seq(2L, 3L), -1L,
      Map(2L -> 20L), planned = true)
  }

  test("partition-count invariance: 1 and 13 partitions before caching") {
    val pairs = (0 until 500).map(i => (s"k$i", i.toLong))
    val keys = Seq("k0", "k250", "k499", "k500", "none")
    val want = pairs.toMap
    Seq(1, 13).foreach(n => agree(() => pairs.toDS().repartition(n), keys, -1L, want))
  }

  test("cleared, re-cached and derived stores: the lookup follows the cache") {
    val sc = spark.sparkContext
    val store = Graft.cache(Seq(("aa", 1L), ("bb", 2L)).toDS().repartition(3))
    try {
      store.count()
      val old = CachedRows.of(store).get.dependencies.head.rdd
      Graft.clear(store)
      assert(CachedRows.of(store).isEmpty)
      val persisted = sc.getPersistentRDDs.keySet
      val (a, executions, _, _) = counted((Graft.get(store, "bb", -1L), Graft.has(store, "zz")))
      assert(a == ((2L, false)) && executions == 2, "a cleared store takes the planned path")
      assert(sc.getPersistentRDDs.keySet == persisted, "a cleared store was re-materialized")

      Graft.cache(store).count()
      val batches = CachedRows.of(store).get.dependencies.head.rdd
      assert(batches.id != old.id && old.getStorageLevel == StorageLevel.NONE)
      assert(sc.getPersistentRDDs.contains(batches.id), "the re-cached batches are not the ones read")
      val (b, executions2, _, _) = counted((Graft.get(store, "bb", -1L), Graft.has(store, "zz")))
      assert(b == ((2L, false)) && executions2 == 0)

      // a Dataset derived from a cached store is not served by the cache as
      // a whole, so it is planned (reading the cache inside its plan)
      val derived = store.filter($"_2" > 1L)
      assert(CachedRows.of(derived).isEmpty)
      val (c, executions3, _, _) = counted((Graft.get(derived, "bb", -1L), Graft.has(derived, "aa")))
      assert(c == ((2L, false)) && executions3 == 2)
    } finally Graft.clear(store)
  }

  test("on a cached store get and has each run one job and no SQL execution") {
    val store = Graft.cache(Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS().repartition(4))
    try {
      store.count()
      val (v, gx, gj, gNames) = counted(Graft.get(store, "cc", -1L))
      assert(v == 3L)
      assert((gx, gj) == ((0, 1)), s"get: $gx SQL executions, $gj jobs")
      assert(gNames == Seq("Graft.get"), "the job's call site")
      val (h, hx, hj, hNames) = counted(Graft.has(store, "zz"))
      assert(!h)
      assert((hx, hj) == ((0, 1)), s"has: $hx SQL executions, $hj jobs")
      assert(hNames == Seq("Graft.has"), "the job's call site")
      assert(spark.sparkContext.getLocalProperty("callSite.short") == null,
        "the call site was not restored")
    } finally Graft.clear(store)
  }
}
