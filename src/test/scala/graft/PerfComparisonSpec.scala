package graft

import graft.core.Graft
import org.apache.spark.sql.functions._

/** Side-by-side timing fixture in the reference's own test style: hpmr
  * runs identical workloads on its maps and std::unordered_map in adjacent
  * TESTs so wall-times can be eyeballed (src/bare_map_test.cc:62-92).
  * The analog here: the same 1M-pair mapreduce through (a) the typed
  * facade (an object mapper lambda, and the reducer lambda called from a
  * codegen'd HashAggregate) and (b) the columnar DataFrame path
  * (codegen'd sum). Both must produce the golden value;
  * the printed times document why the declared queries use the columnar
  * form.
  */
class PerfComparisonSpec extends SparkSpec {

  import TestSpark.spark.implicits._

  private val n = 1000000L
  private val golden = n * (n - 1) / 2

  test("1M-pair mapreduce: typed facade (hpmr-style lambdas)") {
    val t0 = System.nanoTime()
    val res = Graft.mapreduceRange[String, Long](
      Graft.fromRange(spark, 0, n),
      i => Iterator.single(("total", i)), _ + _).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(res.toSeq == Seq(("total", golden)))
    info(f"typed facade: $sec%.2f s")
  }

  test("1M-pair mapreduce: columnar DataFrame (codegen)") {
    val t0 = System.nanoTime()
    val res = spark.range(0, n)
      .agg(sum(col("id")).as("total")).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(res.head.getLong(0) == golden)
    info(f"columnar: $sec%.2f s")
  }
}
