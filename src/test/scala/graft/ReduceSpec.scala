package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.core.Graft

/** The two paths of Graft's reduce (mapreduce, mapreduceRange, put): a
  * value whose encoder is one non-nullable fixed-width column reduces in
  * a HashAggregate, any other value in the object aggregate, and both
  * give a plain-Scala fold's answer at any shuffle width, keep the store
  * key-owned, surface a failing reducer and reject a null primitive. */
class ReduceSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  /** The final plan of `store`'s materialized cache entry. */
  private def cachedPlan(store: Dataset[_]): SparkPlan =
    store.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.get
      .cacheBuilder.cachedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** (plans HashAggregate, plans ObjectHashAggregate, reports
    * HashPartitioning(_1, 4)) for a cached, materialized mapreduce store
    * of `vs`' values over three keys. */
  private def shape[V](vs: Seq[V], f: (V, V) => V)(implicit ev: Encoder[V], ekv: Encoder[(String, V)]) =
    withShufflePartitions(4) {
      val store = Graft.cache(Graft.mapreduceRange[String, V](Graft.fromRange(spark, 0L, vs.size.toLong),
        i => Iterator.single((s"k${i % 3}", vs(i.toInt))), f))
      try {
        assert(store.count() == 3L)
        val plan = cachedPlan(store)
        val ns = planNodes(plan)
        (ns.exists(_.isInstanceOf[HashAggregateExec]), ns.exists(_.isInstanceOf[ObjectHashAggregateExec]),
          plan.outputPartitioning match {
            case HashPartitioning(Seq(a: Attribute), 4) => a.name == "_1"
            case _ => false
          })
      } finally Graft.clear(store)
    }

  test("primitive values plan a HashAggregate, other values the object aggregate, both key-owned") {
    val ints = (1 to 9)
    assert(shape[Long](ints.map(_.toLong), _ + _) == ((true, false, true)))
    assert(shape[Int](ints, _ + _) == ((true, false, true)))
    assert(shape[Double](ints.map(_.toDouble), math.max) == ((true, false, true)))
    assert(shape[Boolean](ints.map(_ % 2 == 0), _ || _) == ((true, false, true)))
    assert(shape[String](ints.map(_.toString), (a, b) => Seq(a, b).min) == ((false, true, true)))
    assert(shape[(Int, String)](ints.map(i => (i, i.toString)), (a, b) => if (a._1 <= b._1) a else b) ==
      ((false, true, true)))
  }

  /** `pairs` reduced by mapreduce, and by put of their second half into
    * their first, at 1, 4 and 13 shuffle partitions, each against the
    * plain-Scala fold, compared through `norm`. */
  private def agrees[V, W](pairs: Seq[(String, V)], f: (V, V) => V, norm: V => W)(
      implicit ev: Encoder[V], ekv: Encoder[(String, V)]): Unit = {
    val want = pairs.groupBy(_._1).map { case (k, ps) => k -> norm(ps.map(_._2).reduce(f)) }
    val (a, b) = pairs.splitAt(pairs.size / 2)
    Seq(1, 4, 13).foreach { n =>
      withShufflePartitions(n) {
        val viaMr = Graft.mapreduce[String, V, String, V](pairs.toDS().repartition(n),
          (k, v) => Iterator.single((k, v)), f)
        val viaPut = Graft.put(Graft.mapreduce[String, V, String, V](a.toDS(), (k, v) => Iterator.single((k, v)), f),
          b.toDS(), f)
        Seq("mapreduce" -> viaMr, "put" -> viaPut).foreach { case (op, ds) =>
          val got = ds.collect()
          assert(got.length == want.size, s"$op at $n")
          assert(got.map { case (k, v) => k -> norm(v) }.toMap == want, s"$op at $n")
        }
      }
    }
  }

  test("sum, max over NaN and signed zeros, or, and a product min match the plain fold at 1, 4 and 13 partitions") {
    val r = new scala.util.Random(11)
    agrees[Long, Long](Seq.tabulate(500)(i => (s"k${r.nextInt(40)}", r.nextLong() >> 8)), _ + _, identity)
    val doubles = Seq("nan" -> 1.0, "nan" -> Double.NaN, "nan" -> -3.0, "negz" -> -0.0, "negz" -> -0.0,
      "zeros" -> -0.0, "zeros" -> 0.0, "zeros" -> -0.0, "mix" -> -1.0, "mix" -> -0.0, "one" -> -0.0,
      "inf" -> Double.NegativeInfinity, "inf" -> -0.0)
    agrees[Double, Long](r.shuffle(doubles), math.max, java.lang.Double.doubleToRawLongBits)
    agrees[Boolean, Boolean](Seq.tabulate(200)(i => (s"k${i % 7}", i % 7 == 3 && i > 150 || i % 7 == 5)),
      _ || _, identity)
    agrees[(Int, String), (Int, String)](Seq.tabulate(60)(i => (s"k${i % 4}", (r.nextInt(5), s"s${r.nextInt(9)}"))),
      (a, b) => Ordering[(Int, String)].min(a, b), identity)
  }

  test("an empty range and an empty batch add no rows") {
    val empty = Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0L, 0L),
      i => Iterator.single((s"k$i", i)), _ + _)
    assert(empty.count() == 0L)
    val store = Seq(("a", 1L), ("b", 2L)).toDS()
    assert(Graft.put(store, spark.emptyDataset[(String, Long)], (a: Long, b: Long) => a + b).count() == 2L)
    assert(Graft.put(spark.emptyDataset[(String, Long)], spark.emptyDataset[(String, Long)],
      (a: Long, b: Long) => a + b).count() == 0L)
  }

  test("a store whose value column is narrower than V reduces in V") {
    def narrow(ps: (String, Int)*) = ps.toDF("_1", "_2").as[(String, Long)]
    val got = Graft.put(narrow(("a", Int.MaxValue), ("b", 1)), narrow(("a", 1)), (a: Long, b: Long) => a + b)
    assert(got.collect().toMap == Map("a" -> (Int.MaxValue + 1L), "b" -> 1L))
  }

  private def chain(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def condition(t: Throwable): Option[String] = t match {
    case s: SparkThrowable => Option(s.getCondition)
    case _ => None
  }

  test("a throwing reducer surfaces its ArithmeticException on both paths") {
    val flat = intercept[Exception] {
      Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0L, 4L),
        _ => Iterator.single(("k", Long.MaxValue)), Math.addExact(_: Long, _: Long)).collect()
    }
    assert(chain(flat).last.isInstanceOf[ArithmeticException], chain(flat))
    assert(chain(flat).flatMap(condition).contains("FAILED_EXECUTE_UDF"), chain(flat))
    val obj = intercept[Exception] {
      Graft.mapreduceRange[String, (Long, String)](Graft.fromRange(spark, 0L, 4L),
        _ => Iterator.single(("k", (Long.MaxValue, "x"))), (a, b) => (Math.addExact(a._1, b._1), a._2)).collect()
    }
    assert(chain(obj).last.isInstanceOf[ArithmeticException], chain(obj))
  }

  test("a null primitive value fails put as it fails mapreduce; a String value still reaches the reducer") {
    val store = Seq(("a", Some(1L)), ("a", None), ("b", None), ("c", Some(5L))).toDF("_1", "_2").as[(String, Long)]
    val batch = Seq(("a", 10L), ("c", 1L)).toDS()
    def violation(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(chain(e).flatMap(condition).contains("NOT_NULL_ASSERT_VIOLATION"), chain(e))
    }
    violation(Graft.put(store, batch, (a: Long, b: Long) => a + b).collect())
    violation(Graft.mapreduce[String, Long, String, Long](store, (k, v) => Iterator.single((k, v)), _ + _).collect())
    val strings = Seq(("a", "x"), ("a", null), ("b", "y")).toDS()
    val seen = Graft.put(strings, Seq(("b", "z")).toDS(),
      (a: String, b: String) => if (a == null || b == null) "null" else Seq(a, b).sorted.mkString)
    assert(seen.collect().toMap == Map("a" -> "null", "b" -> "yz"))
  }
}
