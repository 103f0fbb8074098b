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
  * planned filter on the uncached store for every key type; on a
  * materialized key-owned store one task over the owner's block, with no
  * lineage, and a lost block recomputed. A store that breaks the key
  * column contract is rejected. */
class PointLookupSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  /** What `body` ran: SQL executions, jobs, stages per job (skipped
    * parents included), tasks of each job's result stage, and the name of
    * each job's result stage (its call site). */
  private case class Ran(executions: Int, jobs: Int, stages: Seq[Int], tasks: Seq[Int], names: Seq[String])

  /** `body`'s result and what it ran ([[Ran]]). Jobs are counted in a job
    * group set around `body`, which it must leave as set. */
  private def counted[A](body: => A): (A, Ran) = {
    val sc = spark.sparkContext
    val group = "point-lookup-spec"
    val executions = new AtomicInteger
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String)]
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executions.incrementAndGet()
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          // the result stage; any others are the cache's skipped parents
          val result = e.stageInfos.maxBy(_.stageId)
          jobs.add((e.stageInfos.size, result.numTasks, result.name))
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
      val js = jobs.asScala.toSeq
      (a, Ran(executions.get, js.size, js.map(_._1), js.map(_._2), js.map(_._3)))
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
      val (got, ran) = counted(answers(store))
      assert(got == expected, "cached")
      assert(ran.executions == (if (planned) 2 * keys.size else 0), "SQL executions")
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

  test("get, has and put reject a store whose first two columns are not _1, _2") {
    val dir = tempDir("graft-lookup") + "/store"
    Seq((100L, 1L), (200L, 2L)).toDF("_2", "_1").write.mode("overwrite").parquet(dir)
    // `as[(K, V)]` binds a tuple by ordinal while the key predicate and the
    // reduce read the column NAMED _1 and a union pairs columns by
    // position: on this layout every op would key on values
    val plain = spark.read.parquet(dir).as[(Long, Long)]
    val keyed = Seq((1L, 1L)).toDS()
    def rejected(what: String)(op: => Any): Unit = {
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.startsWith(s"Graft.$what:"), e.getMessage)
      assert(e.getMessage.contains("struct<_2:bigint,_1:bigint>"), e.getMessage)
    }
    val store = Graft.cache(spark.read.parquet(dir).as[(Long, Long)])
    try {
      store.count()
      Seq(plain, store).foreach { s =>
        rejected("get")(Graft.get(s, 2L, -1L))
        rejected("has")(Graft.has(s, 2L))
        rejected("put")(Graft.put(keyed, s, (a: Long, b: Long) => a + b))
        rejected("put")(Graft.put(s, keyed, (a: Long, b: Long) => a + b))
      }
    } finally Graft.clear(store)
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
      val old = CachedRows.of(store).get.batches
      Graft.clear(store)
      assert(CachedRows.of(store).isEmpty)
      val persisted = sc.getPersistentRDDs.keySet
      val (a, ran) = counted((Graft.get(store, "bb", -1L), Graft.has(store, "zz")))
      assert(a == ((2L, false)) && ran.executions == 2, "a cleared store takes the planned path")
      assert(sc.getPersistentRDDs.keySet == persisted, "a cleared store was re-materialized")

      Graft.cache(store).count()
      val batches = CachedRows.of(store).get.batches
      assert(batches.id != old.id && old.getStorageLevel == StorageLevel.NONE)
      assert(sc.getPersistentRDDs.contains(batches.id), "the re-cached batches are not the ones read")
      val (b, ran2) = counted((Graft.get(store, "bb", -1L), Graft.has(store, "zz")))
      assert(b == ((2L, false)) && ran2.executions == 0)

      // a Dataset derived from a cached store is not served by the cache as
      // a whole, so it is planned (reading the cache inside its plan)
      val derived = store.filter($"_2" > 1L)
      assert(CachedRows.of(derived).isEmpty)
      val (c, ran3) = counted((Graft.get(derived, "bb", -1L), Graft.has(derived, "aa")))
      assert(c == ((2L, false)) && ran3.executions == 2)
    } finally Graft.clear(store)
  }

  test("on a cached store get and has each run one job and no SQL execution") {
    val store = Graft.cache(Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS().repartition(4))
    try {
      store.count()
      val (v, g) = counted(Graft.get(store, "cc", -1L))
      assert(v == 3L)
      assert((g.executions, g.jobs) == ((0, 1)), s"get: $g")
      assert(g.names == Seq("Graft.get"), "the job's call site")
      val (h, hr) = counted(Graft.has(store, "zz"))
      assert(!h)
      assert((hr.executions, hr.jobs) == ((0, 1)), s"has: $hr")
      assert(hr.names == Seq("Graft.has"), "the job's call site")
      assert(spark.sparkContext.getLocalProperty("callSite.short") == null,
        "the call site was not restored")
    } finally Graft.clear(store)
  }

  /** A cached, materialized key-owned store of "k0".."k299" built by
    * mapreduce and then put at `n` shuffle partitions. */
  private def keyOwned(n: Int): Dataset[(String, Long)] = withShufflePartitions(n) {
    val ingest = Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0L, 600L),
      i => Iterator.single((s"k${i % 250}", 1L)), _ + _)
    val store = Graft.cache(Graft.put(ingest, (240 until 300).map(i => (s"k$i", 10L)).toDS(),
      (a: Long, b: Long) => a + b))
    store.count()
    store
  }

  /** The value of "k$i", i < 300, in [[keyOwned]]: its share of 600 ones
    * over "k0".."k249", plus the put's 10 on "k240".."k299". */
  private def want(i: Int): Long = (if (i < 250) (if (i < 100) 3L else 2L) else 0L) + (if (i >= 240) 10L else 0L)

  test("key-owned stores at 1, 4, 13, 200 partitions: one task reads the owner block") {
    Seq(1, 4, 13, 200).foreach { n =>
      val store = keyOwned(n)
      try {
        assert(CachedRows.of(store).get.batches.getNumPartitions == n)
        Seq(0, 7, 99, 100, 245, 260, 299).foreach { i =>
          val (got, ran) = counted((Graft.get(store, s"k$i", -1L), Graft.has(store, s"k$i")))
          assert(got == ((want(i), true)), s"k$i at $n partitions")
          assert(ran == Ran(0, 2, Seq(1, 1), Seq(1, 1), Seq("Graft.get", "Graft.has")), s"k$i at $n: $ran")
        }
        Seq("k300", "none", "").foreach { k =>
          val (got, ran) = counted((Graft.get(store, k, -1L), Graft.has(store, k)))
          assert(got == ((-1L, false)), s"$k at $n partitions")
          assert(ran.tasks == Seq(1, 1) && ran.stages == Seq(1, 1), s"$k at $n: $ran")
        }
      } finally Graft.clear(store)
    }
  }

  test("a cached store no action has materialized answers through its lineage") {
    val store = withShufflePartitions(4) {
      Graft.cache(Graft.mapreduce[String, Long, String, Long](
        (0 until 100).map(i => (s"k$i", i.toLong)).toDS(), (k, v) => Iterator.single((k, v)), _ + _))
    }
    try {
      assert(Graft.get(store, "k42", -1L) == 42L)
      assert(!Graft.has(store, "k100"))
      assert(Graft.has(store, "k0"))
      assert(store.count() == 100L)
    } finally Graft.clear(store)
  }

  test("a cached block removed from the block manager is recomputed and cached again") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.storage.RDDBlockId
    val store = keyOwned(4)
    try {
      val cache = CachedRows.of(store).get
      val p = cache.owner(CatalystTypeConverters.convertToCatalyst("k7"), StringType).get
      val block = RDDBlockId(cache.batches.id, p)
      val master = SparkEnv.get.blockManager.master
      def located = master.getLocations(block).nonEmpty
      assert(located)
      master.removeBlock(block) // the block manager drops it asynchronously
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
        assert(!located)
      }
      assert(Graft.get(store, "k7", -1L) == want(7))
      assert(located, "the lookup did not cache the block again")
      assert(Graft.has(store, "k7") && !Graft.has(store, "k300"))
      // a block that vanishes after its location was checked fails the
      // block read, and the lookup falls back to the lineage
      SparkEnv.get.blockManager.removeBlock(block, tellMaster = false)
      assert(located)
      assert(Graft.get(store, "k7", -1L) == want(7))
      assert(SparkEnv.get.blockManager.getStatus(block).isDefined, "the block was not cached again")
      assert((0 until 300).forall(i => Graft.get(store, s"k$i", -1L) == want(i)))
    } finally Graft.clear(store)
  }
}
