package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** Rule-level semantics of [[TextQueries.textGopherRules]] (each rule
  * fails on a doc planted to violate exactly it) and the tercile-cut
  * properties of [[TextQueries.textCcnetBuckets]] (bucket ordering is
  * strict, buckets partition each language, ties collapse to the lower
  * bucket). The DuckDB oracle pins cross-engine values; these pin the
  * rule/cut semantics on shapes the fixture cannot be trusted to
  * contain. */
class QualityRulesSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(docs: Seq[(Long, String)]): String = {
    val dir = tempDir("graft-qr")
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gopher rules: each planted violation fails exactly its rule") {
    val fill = (n: Int) => Seq.fill(n)("word").mkString(" ")
    val docs = Seq(
      // 40 words, mean len in range, 2 stopword kinds, all alphabetic.
      1L -> s"the of ${fill(38)}",
      // 10 words: word-count floor violated, everything else fine.
      2L -> s"the of ${fill(8)}",
      // 40 words of length 15: mean word length above 10.
      3L -> ("the of " + Seq.fill(38)("extraordinarily").mkString(" ")),
      // 40 words, zero stopwords.
      4L -> fill(40),
      // 40 words, 10 all-digit: alphabetic fraction 30/40 < 0.8.
      5L -> s"the of ${fill(28)} ${Seq.fill(10)("12345").mkString(" ")}")
    val out = TextQueries.textGopherRules(spark, mkDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("wc_ok"), r.getAs[Boolean]("wlen_ok"),
          r.getAs[Boolean]("stop_ok"), r.getAs[Boolean]("alpha_ok"),
          r.getAs[Boolean]("pass")))).toMap
    assert(out(1L) == ((true, true, true, true, true)), out(1L).toString)
    assert(out(2L) == ((false, true, true, true, false)), out(2L).toString)
    assert(out(3L) == ((true, false, true, true, false)), out(3L).toString)
    assert(out(4L) == ((true, true, false, true, false)), out(4L).toString)
    assert(out(5L) == ((true, true, true, false, false)), out(5L).toString)
  }

  test("gopher line/symbol rules: each planted violation fails exactly its rule") {
    val fill = (n: Int) => Seq.fill(n)("word").mkString(" ")
    // Each doc satisfies the original four rules (>= 30 words, sane
    // lengths, 2 stopword kinds, alphabetic) so the NEW flag is the only
    // failing one — except where noted.
    val base = s"the of ${fill(38)}"
    val docs = Seq(
      // 1: single line, no symbols — all eight rules pass.
      1L -> base,
      // 2: hash symbol-to-word ratio 5/41 > 0.1 -> sym_ok false.
      2L -> s"$base #####",
      // 3: unicode-ellipsis symbols 5/40 > 0.1 -> sym_ok false ("…" is
      //    glued to words, so the word count stays 40 and mean length
      //    stays in range).
      3L -> s"the of ${Seq.fill(5)("word…").mkString(" ")} ${fill(33)}",
      // 4: 10 DISTINCT lines, all bullet-led (100 % > 90 %) ->
      //    bullet_ok false (distinct lines keep dupline_ok true; words
      //    ride within the lines so the original rules hold).
      4L -> (0 until 10).map(i => s"- the of w$i ${fill(3)}").mkString("\n"),
      // 5: 10 distinct lines, 4 ending with "..." (40 % > 30 %) ->
      //    ellipsis_ok false; 4 dot-ellipses over 60 words keeps sym_ok.
      5L -> (0 until 10).map(i =>
        s"the of w$i ${fill(3)}" + (if (i < 4) " end..." else " end")).mkString("\n"),
      // 6: 10 lines, 5 copies of one line (dup fraction 4/10 > 30 %) ->
      //    dupline_ok false.
      6L -> ((0 until 5).map(i => s"the of w$i ${fill(3)}") ++
        Seq.fill(5)(s"the of same ${fill(3)}")).mkString("\n"))
    val out = TextQueries.textGopherRules(spark, mkDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("sym_ok"), r.getAs[Boolean]("bullet_ok"),
          r.getAs[Boolean]("ellipsis_ok"), r.getAs[Boolean]("dupline_ok"),
          r.getAs[Boolean]("pass")))).toMap
    assert(out(1L) == ((true, true, true, true, true)), out(1L).toString)
    assert(out(2L) == ((false, true, true, true, false)), out(2L).toString)
    assert(out(3L)._1 == false && out(3L)._5 == false, out(3L).toString)
    assert(out(4L) == ((true, false, true, true, false)), out(4L).toString)
    assert(out(5L) == ((true, true, false, true, false)), out(5L).toString)
    assert(out(6L) == ((true, true, true, false, false)), out(6L).toString)
  }

  test("ccnet buckets: strict score ordering, language partition, fixture sanity") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val scoreable = docs
      .select(col("lang"), graft.functions.ColFns.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextQueries.textCcnetBuckets(spark, sfDir).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == scoreable.keySet)
    for ((lang, rs) <- byLang) {
      // Partition: bucket doc counts sum to the language's scoreable docs.
      assert(rs.map(_.getAs[Long]("n_docs")).sum == scoreable(lang))
      val m = rs.map(r => r.getAs[String]("bucket") ->
        ((r.getAs[Long]("min_score"), r.getAs[Long]("max_score")))).toMap
      assert(m.keySet.subsetOf(Set("tail", "middle", "head")))
      // Strict ordering across present buckets: every tail score < every
      // middle score < every head score (thresholds are inclusive below).
      for (t <- m.get("tail"); mid <- m.get("middle"))
        assert(t._2 < mid._1, s"$lang: tail max ${t._2} >= middle min ${mid._1}")
      for (mid <- m.get("middle"); h <- m.get("head"))
        assert(mid._2 < h._1, s"$lang: middle max ${mid._2} >= head min ${h._1}")
    }
  }

  test("ccnet buckets: a degenerate single-score language collapses to one tail bucket") {
    // All docs identical => every doc has the same integer score s, so
    // t1 = t2 = s and the <=-tie rule puts the whole language in 'tail'
    // — the cut never manufactures head mass that does not exist.
    val text = "alpha beta alpha beta gamma"
    val dir = mkDocs((1L to 6L).map(i => i -> text))
    val out = TextQueries.textCcnetBuckets(spark, dir).collect()
    assert(out.length == 1, out.mkString(";"))
    assert(out.head.getAs[String]("bucket") == "tail")
    assert(out.head.getAs[Long]("n_docs") == 6L)
  }
}
