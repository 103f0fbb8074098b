package graft

import org.apache.spark.sql.functions._

/** Behavioral pins for the log-free BM25 retrieval scorer (the DuckDB
  * oracle is the authoritative value check; these pin the retrieval
  * SEMANTICS a refactor could silently break): query-term derivation,
  * tf saturation, and the length normalization direction.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def planted(): String = {
    val dir = tempDir("graft-bm25")
    // Vocabulary: "hot" is the corpus-hottest word (in every doc — zero
    // discrimination), "mid" the second, "rare"... appears in two docs.
    // Query = top-3 by cf: (hot, mid, rim).
    val docs = Seq(
      // doc 1: saturated with all three query terms, short — must rank #1
      (1L, "hot mid rim hot mid rim hot"),
      // doc 2: same query-term counts as doc 1 but PADDED with noise —
      // length normalization must rank it strictly below doc 1
      (2L, "hot mid rim hot mid rim hot pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8"),
      // doc 3: only the hot term
      (3L, "hot zzz yyy"),
      // doc 4: no query terms at all — must not appear
      (4L, "aaa bbb ccc ddd"),
      // filler docs keeping (hot, mid, rim) the top-3 by cf
      (5L, "hot mid rim"),
      (6L, "hot mid rim"),
      (7L, "hot mid"))
    docs.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("planted corpus: saturation beats padding, no-match docs are absent, scores positive") {
    val dir = planted()
    val rows = SparkEntry.queries("text_bm25_topk")(spark, dir).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    val score = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!ids.contains(4L), "doc with no query terms was retrieved")
    assert(score.values.forall(_ > 0.0))
    // same term counts, longer doc → strictly lower score (b > 0)
    assert(score(1L) > score(2L), s"length normalization inverted: $score")
    // all three query terms beat one hot-only term
    assert(score(1L) > score(3L))
    assert(ids.head == 1L, s"expected doc 1 first, got $ids")
  }

  test("bm25Rank: a caller-supplied query-term table drives retrieval over the shared core") {
    val dir = planted()
    import graft.queries.TextQueries
    val tdf = org.apache.spark.sql.graftx.Sessions
      .snapshot(TextQueries.termDocTf(spark, dir))._2
    // A standing query the corpus-top-3 derivation would never pick:
    // two rare terms plus padding noise.
    val q = Seq(("rim", 1L), ("zzz", 2L), ("pad1", 3L)).toDF("term", "qrank")
    val ids = TextQueries.bm25Rank(tdf, q).collect().map(_.getLong(0)).toSet
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    // docs with none of the supplied terms are absent...
    assert(!ids.contains(4L) && !ids.contains(7L), ids.toString)
    // ...and docs matching only the supplied (not the corpus-top) terms hit.
    assert(ids.contains(3L) && ids.contains(2L) && ids.contains(1L), ids.toString)
  }

  test("fixture: top-10, deterministic, descending on the rounded score") {
    val df = SparkEntry.queries("text_bm25_topk")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "not descending")
    assert(df.collect().map(_.toString).toSeq == rows.map(_.toString).toSeq,
      "rerun not bit-identical")
  }
}
