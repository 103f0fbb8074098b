package graft

import org.apache.spark.sql.functions._
import graft.queries.LinkageQueries

/** Properties for the linkage/structure family (fuzzy join, inverted
  * index, triangle count) and the temperature mix. The DuckDB oracle is
  * the authoritative value check; these pin the invariants a refactor
  * could silently break (blocking discipline, shard bounds, orientation
  * correctness on a planted graph, budget semantics).
  */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sf01 = "/root/testdata/sf0.01"

  test("fuzzy join: pairs share a block, distance within threshold, no self-pairs") {
    val rows = SparkEntry.queries("text_fuzzy_join_blocked")(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"))
      assert(a < b, s"pair not canonically ordered: $a / $b")
      assert(a.split(' ').last == b.split(' ').last, s"pair crosses blocks: $a / $b")
      val dist = r.getAs[Long]("dist")
      assert(dist >= 1L && dist <= LinkageQueries.MaxEdit,
        s"distance $dist out of (0, ${LinkageQueries.MaxEdit}] for $a / $b")
      assert(r.getAs[Long]("cnt_a") > 0L && r.getAs[Long]("cnt_b") > 0L)
    }
    // canonical pairs are unique
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == rows.length)
  }

  test("fuzzy join: an over-cap block is skipped wholesale") {
    // every block in the fixture exceeds a cap of 1 (the 64-name
    // vocabulary has 8 names per noun block), so capping at 1 must
    // produce the empty result, not a partial join.
    val capped = LinkageQueries.textFuzzyJoinBlockedCapped(1L)(spark, sf01)
    assert(capped.count() == 0L)
    // and the default cap is a no-op on this fixture (all blocks small)
    val dflt = SparkEntry.queries("text_fuzzy_join_blocked")(spark, sf01).count()
    val wide = LinkageQueries.textFuzzyJoinBlockedCapped(1000000L)(spark, sf01).count()
    assert(dflt == wide)
  }

  test("inverted index: shard bounds, sorted postings, df consistency") {
    val rows = SparkEntry.queries("text_inverted_index")(spark, sf01).collect()
    assert(rows.nonEmpty)
    val shardW = LinkageQueries.PostingShard
    rows.foreach { r =>
      val shard = r.getAs[Long]("shard")
      // postings ship as a comma-joined string (the oracle-hashable
      // scalar form); parse back to ids for the structural checks.
      val postings = r.getAs[String]("postings").split(',').map(_.toLong).toSeq
      assert(postings.length.toLong == r.getAs[Long]("df_shard"))
      assert(postings == postings.sorted, s"postings not sorted for ${r.getString(0)}")
      assert(postings.distinct.length == postings.length, "duplicate doc in posting")
      postings.foreach(id => assert(id / shardW == shard,
        s"doc $id outside shard $shard"))
    }
    // per-term df across shards == distinct (term, doc) pairs of the corpus
    val byTerm = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getAs[Long]("df_shard")).sum)
    val expect = graft.sources.Tables.documents(spark, sf01)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .select("term", "doc_id").distinct()
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTerm.toMap == expect)
  }

  test("triangle count: planted graph yields exactly the planted triangle") {
    val dir = tempDir("graft-tri")
    // baskets (each listed twice so every pair clears MinSupport = 2):
    //   {1,2,3}            -> triangle on 1,2,3
    //   {4,5}              -> an edge with no closing wedge
    //   {6,7,8} once only  -> support 1, below MinSupport: no edges
    //   {10..23} twice     -> 14 items > MaxOrderItems: excluded wholesale
    val baskets = Seq(
      100L -> Seq(1L, 2L, 3L), 101L -> Seq(1L, 2L, 3L),
      102L -> Seq(4L, 5L), 103L -> Seq(4L, 5L),
      104L -> Seq(6L, 7L, 8L),
      105L -> (10L to 23L), 106L -> (10L to 23L))
    val rows = for ((o, ps) <- baskets; p <- ps) yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_triangle_count")(spark, dir).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("tri_cnt"), r.getAs[Long]("degree")))
    // only the planted triangle's nodes appear, each in exactly 1 triangle
    // with degree 2; the support-1 basket and the oversized basket
    // contribute nothing.
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 1L, 2L)), got.toSeq.toString)
  }

  test("pagerank: planted path graph reproduces the closed-form integer trajectory") {
    val dir = tempDir("graft-pr")
    // Path graph 1 — 2 — 3 (each co-order basket twice to clear
    // MinSupport): deg(1) = deg(3) = 1, deg(2) = 2. Hand-run of the
    // integer update r′ = 150000 + (85 · Σ ⌊r/deg⌋) // 100 from
    // r0 = 1000000:
    //   round 1: r(1) = r(3) = 150000 + 85·⌊10⁶/2⌋//100      = 575000
    //            r(2)        = 150000 + 85·(10⁶ + 10⁶)//100  = 1850000
    //   round 2: r(1) = r(3) = 150000 + 85·⌊1850000/2⌋//100  = 936250
    //            r(2)        = 150000 + 85·(2·575000)//100   = 1127500
    //   round 3: r(1) = r(3) = 150000 + 85·⌊1127500/2⌋//100  = 629187
    //            r(2)        = 150000 + 85·(2·936250)//100   = 1741625
    val baskets = Seq(
      100L -> Seq(1L, 2L), 101L -> Seq(1L, 2L),
      102L -> Seq(2L, 3L), 103L -> Seq(2L, 3L))
    val rows = for ((o, ps) <- baskets; p <- ps) yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_pagerank")(spark, dir).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("pagerank"),
                 r.getAs[Long]("degree")))
    assert(got.toSeq == Seq((2L, 1741625L, 2L), (1L, 629187L, 1L),
                            (3L, 629187L, 1L)), got.toSeq.toString)
  }

  test("pagerank on the fixture: positive ranks, hub ordering, bounded output") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf01).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val ranks = rows.map(_.getAs[Long]("pagerank"))
    assert(ranks.forall(_ >= 150000L),
      "every rank is at least the teleport mass")
    assert(ranks.sameElements(ranks.sortBy(-_)), "not ordered by rank desc")
    rows.foreach(r => assert(r.getAs[Long]("degree") >= 1L))
  }

  test("triangle count on the fixture: counts positive, ordered, bounded") {
    val rows = SparkEntry.queries("graph_triangle_count")(spark, sf01).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val cnts = rows.map(_.getAs[Long]("tri_cnt"))
    assert(cnts.forall(_ > 0L))
    assert(cnts.sameElements(cnts.sortBy(-_)), "not ordered by tri_cnt desc")
    rows.foreach(r => assert(r.getAs[Long]("degree") >= 2L,
      "a triangle member needs degree >= 2"))
  }

  test("ngram novelty: duplicate copies score 0, the first occurrence scores 1, short docs drop") {
    import spark.implicits._
    // doc 1 introduces every shingle (novelty 1.0); doc 2 is a verbatim
    // copy (novelty 0.0 — all shingles first seen at doc 1); doc 3 is
    // half-copied from doc 1 and half new; doc 4 is under 3 tokens and
    // must be excluded, not scored NaN.
    val dir = tempDir("graft-novel")
    val base = (1 to 12).map(i => s"n$i").mkString(" ")
    val mixed = ((7 to 12) ++ (100 to 105)).map(i => s"n$i").mkString(" ")
    Seq((1L, base, "en", "s1", base.length.toLong),
        (2L, base, "en", "s2", base.length.toLong),
        (3L, mixed, "en", "s3", mixed.length.toLong),
        (4L, "too short", "en", "s4", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_ngram_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), rows.toString)
    assert(rows(1L) == ((10L, 10L, 1.0)))
    assert(rows(2L) == ((10L, 0L, 0.0)))
    // mixed: 10 shingles; the window n7..n12 re-uses 4 of doc 1's
    // (n7 n8 n9 .. n10 n11 n12), the n12→n100 boundary and the n100+
    // tail are new: 6 novel.
    assert(rows(3L) == ((10L, 6L, 0.6)), rows(3L).toString)
  }

  test("edge inputs: null names, sub-support graphs, and shingle-free corpora stay empty, not broken") {
    import spark.implicits._
    val dir = tempDir("graft-edge")
    // part: one null name, two names too far apart to match (dist > 3)
    Seq((1L, Option.empty[String], "b", "t", 1, 1.0),
        (2L, Option("aaaa bolt"), "b", "t", 1, 1.0),
        (3L, Option("zzzzzzzz bolt"), "b", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(SparkEntry.queries("text_fuzzy_join_blocked")(spark, dir).count() == 0L)
    // lineitem: every co-order pair occurs once — below MinSupport
    Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_shipdate", to_timestamp_ntz(lit("2020-01-01")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(SparkEntry.queries("graph_triangle_count")(spark, dir).count() == 0L)
    // documents: null text and sub-3-token docs only
    Seq((1L, Option.empty[String], "en", "s", 0L), (2L, Option("one two"), "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("text_inverted_index")(spark, dir).count() == 2L,
      "the two-token doc still indexes one row per term")
    assert(SparkEntry.queries("text_ngram_novelty")(spark, dir).count() == 0L)
    assert(SparkEntry.queries("dedup_containment")(spark, dir).count() == 0L)
  }

  test("fuzzy join blocking recall: planted pairs quantify what last-token blocking misses") {
    import spark.implicits._
    // Planted name universe (round-10 verdict #6): six true pairs at edit
    // distance ≤ 3, split by which blocking key can SEE them —
    //   4 share the last token  → visible to the single L key,
    //   2 differ in the last token but share the first → only the F key,
    // plus one pair differing in BOTH tokens (invisible to either key —
    // the residual miss multi-key blocking accepts by design) and decoys
    // beyond the edit threshold.
    val dir = tempDir("graft-frecall")
    val names = Seq(
      "alpha steel", "alpho steel",    // L-visible, dist 1
      "bravo steel", "bravi steel",    // L-visible, dist 1
      "carbon bolt", "carbyn bolt",    // L-visible, dist 1
      "delta washer", "delto washer",  // L-visible, dist 1
      "echo spring", "echo sprung",    // F-only, dist 1 (last tokens differ)
      "omega gasket", "omega gosket",  // F-only, dist 1 (last tokens differ)
      "fox trot", "fax trat",          // invisible: both tokens differ, dist 2
      "unrelated widget", "different flange") // decoys, dist > 3 to all
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b"))).toSet
    val planted = Set(
      ("alpha steel", "alpho steel"), ("bravi steel", "bravo steel"),
      ("carbon bolt", "carbyn bolt"), ("delta washer", "delto washer"),
      ("echo spring", "echo sprung"), ("omega gasket", "omega gosket"),
      ("fax trat", "fox trot"))
    val single = pairSet(LinkageQueries.textFuzzyJoinBlockedCapped(1000L)(spark, dir))
    val multi = pairSet(LinkageQueries.textFuzzyJoinMultiKey(1000L)(spark, dir))
    // The DECLARED query is the multi-key form at the default cap
    // (round-11 verdict #4 promoted it from spec-only).
    val declared = pairSet(SparkEntry.queries("text_fuzzy_join_multikey")(spark, dir))
    assert(declared == multi, "declared multikey query diverges from the spec form")
    // Single-key recall: exactly the 4 L-visible pairs of 7 planted.
    assert(single.size == 4 && single.subsetOf(planted),
      s"single-key found $single")
    assert(single.forall { case (a, b) => a.split(' ').last == b.split(' ').last })
    // Multi-key recall: 6 of 7 — both F-only pairs recovered, only the
    // both-tokens-differ pair stays invisible.
    assert(multi.size == 6 && multi.subsetOf(planted), s"multi-key found $multi")
    assert(!multi.contains(("fax trat", "fox trot")))
    // Pinned recall numbers the scaladoc cites: 4/7 single, 6/7 multi.
    assert(single.size.toDouble / planted.size > 0.55)
    assert(multi.size.toDouble / planted.size > 0.85)
    // No false positives: every emitted pair is a planted pair.
    assert((single ++ multi).subsetOf(planted))
  }

  test("temperature mix: budget semantics and id-stable determinism") {
    val df = SparkEntry.queries("sample_temperature_mix")(spark, sf01)
    val rows = df.collect()
    assert(rows.nonEmpty)
    var total = 0L; var kept = 0L
    rows.foreach { r =>
      val (n, k, thr) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Long]("thr"))
      assert(k <= n)
      assert(thr >= 0L && thr <= (1L << 32))
      // rate-1 sources keep everything (thr saturated at 2^32 > any u)
      if (thr == (1L << 32)) assert(k == n, s"saturated source dropped docs: $k/$n")
      total += n; kept += k
    }
    // α=0.5 at a 50% budget: the hash admission tracks the target within
    // sampling noise — pin a generous band, not the exact draw.
    val frac = kept.toDouble / total
    assert(frac > 0.30 && frac < 0.70, s"kept fraction $frac far from budget")
    // deterministic: a rerun is bit-identical
    assert(df.collect().map(_.toString).toSeq == rows.map(_.toString).toSeq)
  }

  test("entity clusters: transitive matches merge, keys are min partkeys, singletons absent") {
    import spark.implicits._
    // Two planted entities: a 3-name clique ("acme/acmo/acmi steel",
    // pairwise dist 1 — the duplicate "acme steel" row at partkey 10
    // pins name_key = MIN partkey), and a 3-name CHAIN where the
    // endpoints sit at dist 4 > MaxEdit — only transitivity merges
    // them, the cluster step's whole point beyond the pairwise match:
    // aaaa~aabb (2), aabb~bbbb (2), aaaa~bbbb (4, no edge). Plus one
    // unmatched decoy, which must be ABSENT (the dedup_clusters vertex
    // convention: singletons are implicit).
    val dir = tempDir("graft-ent")
    try {
      Seq((10L, "acme steel"), (0L, "acme steel"), (1L, "acmo steel"),
          (2L, "acmi steel"), (3L, "aaaa bolt"), (4L, "aabb bolt"),
          (5L, "bbbb bolt"), (6L, "unrelated widget"))
        .toDF("p_partkey", "p_name")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val out = LinkageQueries.linkageEntityClusters(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
      assert(!out.contains("unrelated widget"), "singleton must be implicit")
      assert(out == Map(
        "acme steel" -> ((0L, 0L)), "acmo steel" -> ((1L, 0L)),
        "acmi steel" -> ((2L, 0L)),
        "aaaa bolt" -> ((3L, 3L)), "aabb bolt" -> ((4L, 3L)),
        "bbbb bolt" -> ((5L, 3L))), s"got $out")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("golden record: most-frequent survivorship, tie to name asc, merged evidence") {
    // Same two planted entities as the cluster test, with prices:
    // entity 0 = the acme trio where "acme steel" has TWO raw rows (it
    // must survive by frequency); entity 3 = the transitive bolt chain
    // where every name has one row (the tie must break to "aaaa bolt",
    // the ascending-name rule). The singleton decoy stays absent.
    val dir = tempDir("graft-gold")
    try {
      Seq((10L, "acme steel", 5.0), (0L, "acme steel", 3.0),
          (1L, "acmo steel", 7.0), (2L, "acmi steel", 4.0),
          (3L, "aaaa bolt", 1.0), (4L, "aabb bolt", 9.0),
          (5L, "bbbb bolt", 2.0), (6L, "unrelated widget", 8.0))
        .toDF("p_partkey", "p_name", "p_retailprice")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val got = LinkageQueries.linkageGoldenRecord(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
                   r.getDouble(4), r.getDouble(5)))
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
      assert(got.toSeq == Seq(
        (0L, "acme steel", 3L, 4L, 3.0, 7.0),
        (3L, "aaaa bolt", 3L, 3L, 1.0, 9.0)), got.toSeq.toString)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
