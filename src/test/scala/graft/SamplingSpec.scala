package graft

import org.apache.spark.sql.functions._

import graft.queries.SamplingQueries
import graft.sources.Tables

/** Sampling / split-assignment semantics: the hash-keyed decisions must
  * partition the corpus, cap per-stratum admission, stay stable when
  * unrelated rows change, and plan as a group-limit (not a full sort).
  */
class SamplingSpec extends SparkSpec {

  test("split assignment partitions the corpus exactly") {
    val total = Tables.documents(spark, sfDir).count()
    val rows = SamplingQueries.sampleSplitAssign(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val splits = rows.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    // 90/5/5 within tolerance on the aggregate (hash uniformity, not a
    // fixture property: any id population approximates the quotas).
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val trainFrac = bySplit.getOrElse("train", 0L).toDouble / total
    assert(trainFrac > 0.85 && trainFrac < 0.95, s"train fraction $trainFrac")
  }

  test("membership is id-stable: removing other documents never changes a kept document's split") {
    // Same doc_ids through a different corpus shape: the split of a given
    // id must not depend on what else is present (the property rand() or
    // positional splits lack). Run the query on a half-corpus fixture and
    // check its per-(source, split) counts equal the full run's counts
    // restricted to the surviving ids — only possible if no survivor moved.
    val docs = Tables.documents(spark, sfDir).limit(500).cache()
    val half = docs.filter(col("doc_id") % 2 === 0)
    val dirHalf = tempDir("graft-split-half")
    half.write.mode("overwrite").parquet(s"$dirHalf/documents.parquet")
    val fromHalfDir = SamplingQueries.sampleSplitAssign(spark, dirHalf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs")).toMap
    // Expected side reuses the query's own splitCol: the property under
    // test is half-corpus vs full-corpus stability, not an independent
    // re-derivation of the salt arithmetic.
    val expected = half
      .select(col("source"), SamplingQueries.splitCol("doc_id").as("split"))
      .groupBy("source", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fromHalfDir == expected)
    docs.unpersist()
  }

  test("leakage audit counts cross-split duplicate groups and reports zeros for clean sources") {
    import spark.implicits._
    // Recompute the engine's split rule host-side to PICK ids with known
    // assignments (same md5Long convention FunctionsSpec pins), so the
    // planted corpus exercises: a cross-split duplicate (leaky), a
    // same-split duplicate (dup, not leaky), and a clean source (zeros).
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:graft-split-v1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    val ids = (1L to 2000L)
    val trainIds = ids.filter(splitOf(_) == "train")
    val testIds = ids.filter(splitOf(_) == "test")
    assert(trainIds.size >= 3 && testIds.nonEmpty, "id scan failed to cover splits")
    val rows = Seq(
      (trainIds(0), "leaky duplicate text", "en", "src_dup", 20L),
      (testIds(0), "leaky duplicate text", "en", "src_dup", 20L),
      (trainIds(1), "contained duplicate text", "en", "src_dup", 24L),
      (trainIds(2), "contained duplicate text", "en", "src_dup", 24L),
      (trainIds(0) + 0, "unique text a", "en", "src_clean", 13L), // id reuse across sources is fine
      (testIds(0) + 0, "unique text b", "en", "src_clean", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-leak")
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SamplingQueries.splitLeakageAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_dup_groups"), r.getAs[Long]("n_leaky_groups"), r.getAs[Long]("n_leaky_docs"))))
      .toMap
    assert(out("src_dup") == ((2L, 1L, 2L)), s"got ${out("src_dup")}")
    assert(out("src_clean") == ((0L, 0L, 0L)), s"got ${out("src_clean")}")
  }

  test("content-keyed split is leak-proof on the corpus whose id-keyed split leaks") {
    import spark.implicits._
    // Same planted shape as the audit test above: the duplicate pair's
    // IDS straddle train/test under the id-keyed rule (the audit flags
    // it), but the content-keyed rule assigns by digest, so both copies
    // MUST land together — split never fragments a content group.
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:graft-split-v1".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    val ids = (1L to 2000L)
    val trainIds = ids.filter(splitOf(_) == "train")
    val testIds = ids.filter(splitOf(_) == "test")
    val rows = Seq(
      (trainIds(0), "leaky duplicate text", "en", "src_dup", 20L),
      (testIds(0), "leaky duplicate text", "en", "src_dup", 20L),
      (trainIds(1), "contained duplicate text", "en", "src_dup", 24L),
      (trainIds(2), "contained duplicate text", "en", "src_dup", 24L),
      (trainIds(3), "unique text a", "en", "src_clean", 13L),
      (testIds(1), "unique text b", "en", "src_clean", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-csplit")
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SamplingQueries.sampleSplitByContent(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
    // Groups never fragment: per source, Σ n_groups over splits equals
    // the source's distinct-digest count (2 for each planted source),
    // and every group's docs are all in one cell — so src_dup's 4 docs
    // land as two (n_docs = 2, n_groups = 1) cells (possibly the same
    // split) rather than the id-keyed rule's train/test straddle.
    val bySource = out.groupBy(_._1._1)
    assert(bySource("src_dup").map(_._2._2).sum == 2L)
    assert(bySource("src_dup").forall { case (_, (nd, ng, _)) => nd == 2L * ng })
    assert(bySource("src_clean").map(_._2._2).sum == 2L)
    // And the direct fix claim: rebuilding the audit with the CONTENT
    // key in place of the id key reports zero leaky groups.
    val contentAudited = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        graft.functions.ColFns.normDigest(col("text")).as("dg"))
      .withColumn("split", SamplingQueries.splitKeyed(col("dg")))
      .groupBy("source", "dg")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1L)
      .count()
    assert(contentAudited == 0L, "content-keyed split produced a leaky group")
  }

  test("DSIR votes separate target-like from source-like documents on a planted bimodal corpus") {
    import spark.implicits._
    // Two disjoint vocabularies: the target domain (lang = 'en') speaks
    // A-words, the raw pool speaks B-words — except one planted
    // "anglophile" pool document written entirely in A-words. Every
    // A-word has p_tgt > p_src (10 target occurrences vs the 1 leaked
    // copy) and every B-word has p_tgt = 0 < p_src, so the vote rule
    // must score the anglophile at exactly +1.0 and every pure pool
    // document at exactly -1.0 — the full separation DSIR selection
    // needs. Distinct words, so a 1024-bucket hash collision between an
    // A- and B-word is the only way this fails, and the fixed vocabulary
    // makes that deterministic (it does not occur).
    val aText = "alpha beta gamma delta"
    val bText = "omega sigma tau upsilon"
    val rows =
      (1L to 10L).map(i => (i, aText, "en", "tgt_src", 24L)) ++
      (11L to 20L).map(i => (i, bText, "xx", "pool_src", 24L)) :+
      ((21L, aText, "xx", "pool_src", 24L))
    val dir = tempDir("graft-dsir")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SamplingQueries.sampleDsirWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_feats"), r.getAs[Double]("dsir_score")))).toMap
    assert(out.size == 11, s"expected the 11 pool docs scored, got ${out.size}")
    assert(out(21L) == ((4L, 1.0)), s"anglophile: ${out(21L)}")
    (11L to 20L).foreach(i => assert(out(i) == ((4L, -1.0)), s"doc $i: ${out(i)}"))
  }

  test("UniMax waterfilling matches the closed form on a planted corpus where the cap binds") {
    import spark.implicits._
    // The sf fixture's languages are all too large for the E=2 cap to
    // bind (every lang lands on the water line theta) — this corpus
    // plants one tiny language so BOTH branches of the allocation fire:
    // langs a/b/c with 10/1000/2000 chars, T=3010, B=1505, caps
    // (20, 2000, 4000). Feasibility: 20*3 <= 1505 but 2000*2+20 > 1505,
    // so m=1, theta=(1505-20)//2=742 — a gets its full 2 epochs, b and c
    // get exactly theta.
    val rows = Seq((1L, "x", "a", "s", 10L)) ++
      (2L to 3L).map(i => (i, "x", "b", "s", 500L)) ++
      (4L to 7L).map(i => (i, "x", "c", "s", 500L))
    val dir = tempDir("graft-unimax")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SamplingQueries.sampleUnimax(spark, dir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("alloc_chars"), r.getAs[Long]("full_epochs"),
          r.getAs[Double]("epochs"), r.getAs[Long]("n_part_docs")))).toMap
    assert(out("a") == ((20L, 2L, 2.0, 0L)), s"capped lang: ${out("a")}")
    assert(out("b")._1 == 742L && out("b")._2 == 0L, s"waterline: ${out("b")}")
    assert(out("c")._1 == 742L, s"waterline: ${out("c")}")
    assert(out("b")._3 == 0.742 && out("c")._3 == 0.371)
    // The capped language's fractional epoch is exactly zero (alloc is a
    // whole multiple of its size), so the admission leg admits nothing.
    assert(out.values.map(_._1).sum <= 1505L, "allocation exceeded the budget")
  }

  test("UniMax on the fixture: every language bounded by cap and budget conserved") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.agg(sum(col("n_chars"))).head().getLong(0)
    val rows = SamplingQueries.sampleUnimax(spark, sfDir).collect()
    val budget = total / 2
    var allocSum = 0L
    rows.foreach { r =>
      val (cap, alloc) =
        (r.getAs[Long]("cap_chars"), r.getAs[Long]("alloc_chars"))
      assert(alloc <= cap, s"${r.getAs[String]("lang")}: alloc $alloc > cap $cap")
      assert(r.getAs[Double]("epochs") <= SamplingQueries.UnimaxEpochCap.toDouble)
      allocSum += alloc
    }
    assert(allocSum <= budget, s"sum(alloc)=$allocSum > budget $budget")
    // The waterfilling actually fills: uncapped languages sit ON the
    // water line, so the only unallocated mass is theta's floor
    // remainder — strictly fewer chars than there are languages.
    assert(budget - allocSum < rows.length.toLong,
      s"left ${budget - allocSum} chars unallocated across ${rows.length} languages")
  }

  test("fixed-k per-stratum sample plans as a group-limit, not a full per-stratum sort at the exchange") {
    // Spark 4 rewrites row_number ≤ k to WindowGroupLimit with a partial
    // mode BEFORE the exchange: each input partition forwards at most k
    // rows per stratum, so the shuffle carries ≤ k·partitions rows per
    // stratum regardless of corpus size — the declarative form IS the
    // scalable top-k. Guarded here so a future rewrite of the sampling
    // query cannot silently fall back to a full per-stratum sort.
    val plan = graft.queries.TextQueries.sampleFixedPerSource(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in plan:\n$plan")
  }
}
