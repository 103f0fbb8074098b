package graft

import graft.core.{Graft, Reducers}

/** Parity unit tests mirroring the reference's own suite (SURVEY §5.1):
  * closed-form goldens, tiny-literal operator semantics, and the 1M-pair
  * LargeMapReduce workload (reference src/dist_map_test.cc:71-88,
  * src/range_test.cc:6-16, src/bare_map_test.cc:49-60).
  */
class GraftCoreSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  test("range mapreduce: 1M pairs sum to N(N-1)/2 (dist_map_test.cc:71-88)") {
    def total(n: Long) = Graft.mapreduceRange[String, Long](
      Graft.fromRange(spark, 0, n),
      i => Iterator.single(("total", i)),
      _ + _).collect().toSeq
    val n = 1000000L
    assert(total(n) == Seq(("total", n * (n - 1) / 2)))
    // An empty range maps nothing, so no key exists to reduce: 0 rows.
    assert(total(0L).isEmpty)
  }

  test("range mapreduce: distinct key per element (range_test.cc:6-16)") {
    val n = 100000L
    val res = Graft.mapreduceRange[Long, Boolean](
      Graft.fromRange(spark, 0, n),
      i => Iterator.single((i, true)),
      (a, _) => a)
    assert(res.count() == n)
  }

  test("kv mapreduce re-keys and re-aggregates (dist_map.h:255-279)") {
    val in = Seq(("aa", 1L), ("ab", 2L), ("bc", 3L)).toDS()
    val res = Graft.mapreduce[String, Long, String, Long](
      in, (k, v) => Iterator.single((k.take(1), v)), _ + _)
      .collect().toMap
    assert(res == Map("a" -> 3L, "b" -> 3L))
  }

  test("mapper may emit 0..n pairs (flat-map + implicit filter, range.h:49)") {
    val res = Graft.mapreduceRange[String, Long](
      Graft.fromRange(spark, 0, 10),
      i => if (i % 2 == 0) Iterator(("even", 1L), ("all", 1L)) else Iterator.empty,
      _ + _).collect().toMap
    assert(res == Map("even" -> 5L, "all" -> 5L))
  }

  test("put merges with reducer on collision (async_set, dist_map.h:118-130)") {
    val store = Seq(("aa", 1L), ("bb", 2L)).toDS()
    def put(batch: org.apache.spark.sql.Dataset[(String, Long)]) =
      Graft.put(store, batch, (a: Long, b: Long) => a + b).collect().toMap
    assert(put(Seq(("bb", 10L), ("cc", 5L)).toDS()) ==
      Map("aa" -> 1L, "bb" -> 12L, "cc" -> 5L))
    // An empty batch leaves the store unchanged.
    assert(put(spark.emptyDataset[(String, Long)]) == Map("aa" -> 1L, "bb" -> 2L))
  }

  test("get returns value or default (dist_map.h:132-145)") {
    val store = Seq(("aa", 1L), ("bb", 2L)).toDS()
    assert(Graft.get(store, "bb", -1L) == 2L)
    assert(Graft.get(store, "zz", -1L) == -1L)
  }

  test("has / remove / distinct / count (set ops, bare_set.h, bare_hash_container.h)") {
    val store = Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS()
    assert(Graft.has(store, "aa"))
    assert(!Graft.has(store, "zz"))
    val removed = Graft.remove(store, Seq("bb").toDS()).collect().toMap
    assert(removed == Map("aa" -> 1L, "cc" -> 3L))
    assert(Graft.countKeys(store) == 3L)
    assert(Graft.distinctKeys(store.union(store)).count() == 3L)
  }

  test("reduceWith Aggregator: arbitrary combine fn (dist_map.h:31-39)") {
    val ds = Seq(1L, 10L, 100L, 1000L).toDS()
    val agg = Reducers.reduceWith[Long](0L, _ + _)
    assert(ds.select(agg.toColumn).head() == 1111L)
  }

  test("parquet round-trip preserves a keyed store (to_string/from_string, bare_map_test.cc:157-168)") {
    val store = Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS()
    val dir = tempDir("graft-rt") + "/store"
    store.toDF("key", "value").write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[(String, Long)].collect().toMap
    assert(back == store.collect().toMap)
  }

  test("get/has push primitive-key lookups into the parquet scan") {
    val dir = tempDir("graft-kv") + "/store"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("_1", "_2")
      .write.mode("overwrite").parquet(dir)
    val store = spark.read.parquet(dir).as[(Long, Long)]
    // behavior: both hit and miss
    assert(Graft.get(store, 2L, -1L) == 20L)
    assert(Graft.get(store, 9L, -1L) == -1L)
    assert(Graft.has(store, 3L) && !Graft.has(store, 9L))
    // plan: the fast-path predicate reaches the scan as a pushed filter.
    // Structural check on the scan's dataFilters (not the rendered
    // PushedFilters string, whose ordering/format shifts across Spark
    // minors); sparkPlan, not executedPlan, so AQE can't hide the scan.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = store.filter(col("_1") === lit(2L))
      .queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a FileSourceScanExec under the filter")
    assert(scans.flatMap(_.dataFilters).exists {
      case EqualTo(a: AttributeReference, Literal(v, _)) => a.name == "_1" && v == 2L
      case EqualTo(Literal(v, _), a: AttributeReference) => a.name == "_1" && v == 2L
      case _ => false
    }, scans.map(_.dataFilters).mkString("; "))
  }

  test("facade supports non-primitive (product) keys like hpmr's templates") {
    val store = Seq(((1, "a"), 10L), ((2, "b"), 20L)).toDS()
    assert(Graft.get(store, (2, "b"), -1L) == 20L)
    assert(Graft.get(store, (9, "z"), -1L) == -1L)
    assert(Graft.has(store, (1, "a")))
    val kept = Graft.hasAll(store, Seq((1, "a")).toDS()).collect().toMap
    assert(kept == Map((1, "a") -> 10L))
    val left = Graft.remove(store, Seq((1, "a")).toDS()).collect().toMap
    assert(left == Map((2, "b") -> 20L))
  }

  test("range join: boundary semantics and bin-crossing intervals") {
    import graft.operators.RangeJoin
    val points = Seq(5L, 10L, 14L, 15L, 29L, 30L).toDF("t")
    val intervals = Seq((10L, 15L), (12L, 30L)).toDF("s", "e")
    // binWidth 4 forces both intervals across several bins
    val out = RangeJoin.rangeJoin(points, "t", intervals, "s", "e", 4L)
      .select("t", "s").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 10L), (14L, 10L), (14L, 12L), (15L, 12L), (29L, 12L)))
    // start inclusive (10 in [10,15)); end exclusive (15 not in [10,15),
    // 30 not in [12,30)); 15 does fall in the overlapping [12,30)
  }

  test("range join: no self-pairing when no interval covers a point") {
    import graft.operators.RangeJoin
    val points = Seq(100L).toDF("t")
    val intervals = Seq((1L, 5L)).toDF("s", "e")
    assert(RangeJoin.rangeJoin(points, "t", intervals, "s", "e", 10L).count() == 0)
  }

  test("asof join: inclusive ties, carry-forward, and no-match nulls") {
    import graft.operators.AsOf
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (2L, 15L, 150.0))
      .toDF("k", "t", "v")
    val probes = Seq((1L, 9L, "before"), (1L, 10L, "tie"), (1L, 25L, "after"),
                     (2L, 14L, "before2"), (3L, 10L, "nokey"))
      .toDF("k", "t", "tag")
    val out = AsOf.asofJoin(probes, quotes, "k", "t", "v")
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(out("before").isEmpty)          // no quote at or before t=9
    assert(out("tie").contains(100.0))     // inclusive: quote at equal t matches
    assert(out("after").contains(200.0))   // latest prior carried forward
    assert(out("before2").isEmpty)
    assert(out("nokey").isEmpty)           // key absent from quotes
  }

  test("asof join fails fast when probes already contain the output column") {
    import graft.operators.AsOf
    val quotes = Seq((1L, 10L, 100.0)).toDF("k", "t", "v")
    val probes = Seq((1L, 9L, 5.0)).toDF("k", "t", "v") // "v" collides
    val ex = intercept[IllegalArgumentException] {
      AsOf.asofJoin(probes, quotes, "k", "t", "v")
    }
    assert(ex.getMessage.contains("v"))
  }

  test("csv sink/source round-trip preserves a keyed store") {
    val store = Seq(("aa", 1L), ("bb", 2L), ("cc", 3L)).toDS().toDF("key", "value")
    val dir = tempDir("graft-csv") + "/store"
    store.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("key STRING, value LONG").csv(dir)
      .as[(String, Long)].collect().toMap
    assert(back == Map("aa" -> 1L, "bb" -> 2L, "cc" -> 3L))
  }

  test("cache pins a store and clear releases it (clear/reserve, #12/#14)") {
    val store = Seq((1L, 1L), (2L, 2L)).toDS()
    import org.apache.spark.storage.StorageLevel
    assert(store.storageLevel == StorageLevel.NONE)
    Graft.cache(store)
    assert(store.storageLevel != StorageLevel.NONE)
    assert(store.count() == 2L) // usable while cached
    Graft.clear(store)
    assert(store.storageLevel == StorageLevel.NONE)
    assert(store.count() == 2L) // still usable, recomputed
  }

  test("reserve grows shuffle partitions with expected cardinality, never shrinks") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val small = Graft.reserve(spark, expectedKeys = 10L)
      assert(small == before.toInt) // never shrinks below the current width
      val big = Graft.reserve(spark, expectedKeys = 100_000_000L,
        keysPerPartition = 1_000_000L)
      assert(big == 100)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "100")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("json sink/source round-trip preserves a keyed store (incl. nested array)") {
    val store = Seq(("aa", 1L, Seq(1L, 2L)), ("bb", 2L, Seq(3L)))
      .toDF("key", "value", "tags")
    val dir = tempDir("graft-json") + "/store"
    store.write.mode("overwrite").json(dir)
    val back = spark.read
      .schema("key STRING, value LONG, tags ARRAY<LONG>").json(dir)
      .as[(String, Long, Seq[Long])].collect().toSet
    assert(back == Set(("aa", 1L, Seq(1L, 2L)), ("bb", 2L, Seq(3L))))
  }

  test("orc sink/source round-trip preserves a keyed store (incl. nested array)") {
    val store = Seq(("aa", 1L, Seq(1L, 2L)), ("bb", 2L, Seq(3L)))
      .toDF("key", "value", "tags")
    val dir = tempDir("graft-orc") + "/store"
    store.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
      .as[(String, Long, Seq[Long])].collect().toSet
    assert(back == Set(("aa", 1L, Seq(1L, 2L)), ("bb", 2L, Seq(3L))))
  }

  test("NaN keys: point and relational ops agree the key is absent") {
    // C++ == makes a NaN key unfindable in any hash container, and the
    // typed get/has filter matches that; SQL's NaN = NaN = TRUE must not
    // make hasAll/remove disagree (round-9 review: remove deleted a key
    // the facade said did not exist).
    import spark.implicits._
    val store = Seq((Double.NaN, 1L), (1.5, 2L)).toDS()
    val nanKey = Seq(Double.NaN).toDS()
    assert(!Graft.has(store, Double.NaN))
    assert(Graft.get(store, Double.NaN, -1L) == -1L)
    assert(Graft.hasAll(store, nanKey).isEmpty, "hasAll must not match NaN")
    assert(Graft.remove(store, nanKey).count() == 2L, "remove must not delete NaN-keyed rows")
  }

  test("partition-count invariance (reference runs -n 1 and -n 4, Makefile:53-58)") {
    val n = 10000L
    def run(parts: Int): Map[Long, Long] =
      Graft.mapreduceRange[Long, Long](
        Graft.fromRange(spark, 0, n).repartition(parts),
        i => Iterator.single((i % 7, i)),
        _ + _).collect().toMap
    assert(run(1) == run(13))
  }

  test("-0.0 and 0.0 reduce to one key at 1 and at 13 partitions") {
    // C++ == (and std::hash) treat them as one key, and so do get/has
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq(1, 13).foreach { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      val res = Graft.mapreduce[Double, Long, Double, Long](
        Seq((-0.0, 1L), (0.0, 2L)).toDS().repartition(n), (k, v) => Iterator.single((k, v)), _ + _)
        .collect().toSeq
      assert(res == Seq((0.0, 3L)), s"at $n partitions")
      assert(Graft.get(res.toDS(), -0.0, -1L) == 3L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
