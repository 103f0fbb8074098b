package graft

import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import graft.operators.Skew

/** Contracts of the salted-join skew remedy: result multiset identical
  * to the plain inner equi-join (the property the DuckDB oracle also
  * gates at query level), and the join actually runs on (key, salt) so
  * a hot key is spread across salt buckets — asserted with broadcasting
  * disabled, the regime the operator exists for.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private def withNoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // 1000 rows, 90% on one hot key — the distribution that swamps a task.
  private lazy val big = (1 to 1000)
    .map(i => (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toLong))
    .toDF("k", "v")
  private lazy val small = Seq(("hot", 1L), ("k0", 2L), ("k3", 3L), ("zz", 9L))
    .toDF("k", "w")

  test("salted join result is identical to the plain inner join") {
    withNoBroadcast {
      val salted = Skew.saltedJoin(big, small, "k", 8)
        .select("k", "v", "w").collect().map(_.toSeq).sorted(RowOrd)
      val plain = big.join(small, Seq("k"))
        .select("k", "v", "w").collect().map(_.toSeq).sorted(RowOrd)
      assert(salted.length == 929) // 900 hot + 14 k0 + 15 k3 matches
      assert(salted.toSeq == plain.toSeq)
    }
  }

  test("join runs on (key, salt): two equi-keys, no broadcast") {
    withNoBroadcast {
      // sparkPlan, not executedPlan: AQE would wrap/replace nodes (see
      // DESIGN.md determinism notes on plan-shape assertions).
      val plan = Skew.saltedJoin(big, small, "k", 8).queryExecution.sparkPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec    => j.leftKeys.length
        case j: ShuffledHashJoinExec => j.leftKeys.length
      }
      assert(joins.nonEmpty, s"no shuffled join found in:\n$plan")
      assert(joins.exists(_ == 2), s"expected a 2-key (key, salt) join, got key counts $joins")
    }
  }

  test("replicated small side matches every salt bucket (no lost rows vs salts)") {
    withNoBroadcast {
      // With salts=1 and salts=8 the result must agree — salt count is a
      // performance knob, never a semantics knob.
      val one = Skew.saltedJoin(big, small, "k", 1)
        .select("k", "v", "w").collect().map(_.toSeq).sorted(RowOrd)
      val eight = Skew.saltedJoin(big, small, "k", 8)
        .select("k", "v", "w").collect().map(_.toSeq).sorted(RowOrd)
      assert(one.toSeq == eight.toSeq)
    }
  }

  // ---- sub-bucketed running sums under a pathological mega-source ----
  // (round-9 verdict watch item #2): textPackChunks / mixSourcesBudget
  // window a running sum partitionBy(source); with one source holding
  // ~everything, a plain per-source window is a single task. The queries
  // now two-level the prefix sum over contiguous order-key sub-buckets;
  // this fixture makes one source hold 97% of a 10k-doc corpus and pins
  // (a) exactness — the sub-bucketed result equals the single-window
  // form bit-for-bit — and (b) boundedness — every window partition in
  // the executed shape stays a small fraction of the mega-source.

  private lazy val megaDir: String = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-mega")
    val docs = (0 until 10000).map { i =>
      val src = if (i % 33 != 0) "src1" else s"src${2 + i % 3}"
      val words = Seq.tabulate(1 + i % 7)(j => s"w${(i * 31 + j) % 997}")
      (i.toLong, words.mkString(" "), "en", src, words.mkString(" ").length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case x => x
    }).map(_.asInstanceOf[Seq[Any]]).sorted(RowOrd)

  test("mega-source: sub-bucketed textPackChunks equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.ColFns.words
    val got = rows(graft.queries.TextQueries.textPackChunks(spark, megaDir))
    // The retired single-window construction, as the in-spec oracle.
    val C = 512L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = rows(graft.sources.Tables.documents(spark, megaDir)
      .select(col("source"), col("doc_id"),
              size(words(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           call_function("div", sum(col("n_tokens")) + (C - 1L), lit(C)).as("n_chunks"),
           sum(when(
             call_function("div", col("cum_before"), lit(C)) =!=
               call_function("div", col("cum_before") + col("n_tokens") - 1L, lit(C)),
             1L).otherwise(0L)).as("n_split_docs"))
      .orderBy("source"))
    assert(got.nonEmpty && got == want)
  }

  test("mega-source: sub-bucketed mixSourcesBudget equals the single-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.ColFns.words
    val got = rows(graft.queries.TextQueries.mixSourcesBudget(spark, megaDir))
    val toks = graft.sources.Tables.documents(spark, megaDir)
      .select(col("source"), col("doc_id"), md5(col("text")).as("ord"),
        size(words(col("text"))).cast("long").as("nt"))
    val srcw = toks.select(col("source")).distinct()
      .select(col("source"),
        (substring(col("source"), 4, 10).cast("int") % 3 + 1).cast("long").as("weight"))
    val tot = toks.agg(sum(col("nt")).as("t"))
    val wsum = srcw.agg(sum(col("weight")).as("ws"))
    val alloc = srcw.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
      .select(col("source"), col("weight"),
        call_function("div", col("t") * col("weight"), lit(2L) * col("ws")).as("alloc_tokens"))
    val win = Window.partitionBy("source").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val kept = toks.withColumn("cum", sum(col("nt")).over(win))
      .join(alloc.select("source", "alloc_tokens"), "source")
      .filter(col("cum") <= col("alloc_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("nt")).as("tokens_kept"))
    val want = rows(alloc.join(kept, Seq("source"), "left")
      .select(col("source"), col("weight"), col("alloc_tokens"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy("source"))
    assert(got.nonEmpty && got == want)
  }

  test("mega-source: every running-sum window partition stays bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    import org.apache.spark.sql.functions._
    import graft.functions.ColFns.words
    // (a) Structural: in both queries, every doc-level window (the ones
    // whose input is NOT a collapsed per-bucket aggregate) must be
    // partitioned by MORE than just source — a refactor dropping the
    // sub-bucket key reverts to the serialized mega-source shape.
    for (q <- Seq(graft.queries.TextQueries.textPackChunks,
                  graft.queries.TextQueries.mixSourcesBudget)) {
      val wins = q(spark, megaDir).queryExecution.analyzed
        .collect { case w: LogicalWindow => w }
      assert(wins.size == 2, s"expected the two-level window pair, got ${wins.size}")
      assert(wins.forall(_.partitionSpec.nonEmpty), "unpartitioned window found")
      assert(wins.exists(_.partitionSpec.size >= 2),
        "no (source, bucket)-partitioned window — sub-bucketing lost")
    }
    // (b) Data-level: the largest (source, bucket) group is a small
    // fraction of the mega-source for BOTH bucketing schemes, and the
    // bucket-level carry tables stay tiny.
    val docs = graft.sources.Tables.documents(spark, megaDir)
    val megaCount =
      docs.filter(col("source") === "src1").count()
    assert(megaCount > 9000L, s"fixture lost its mega-source: $megaCount")
    val maxIdBkt = docs
      .groupBy(col("source"), call_function("div", col("doc_id"), lit(4096L)))
      .count().agg(max("count")).head().getLong(0)
    assert(maxIdBkt <= 4096L, s"doc_id sub-bucket holds $maxIdBkt rows")
    val maxHashBkt = docs
      .groupBy(col("source"), substring(md5(col("text")), 1, 2))
      .count().agg(max("count")).head().getLong(0)
    assert(maxHashBkt <= megaCount / 64,
      s"hash sub-bucket holds $maxHashBkt of $megaCount mega-source rows")
  }

  private object RowOrd extends Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int =
      a.map(_.toString).mkString("|").compare(b.map(_.toString).mkString("|"))
  }
}
