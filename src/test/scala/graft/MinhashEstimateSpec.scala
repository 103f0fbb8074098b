package graft

/** Calibration semantics of `dedup_minhash_estimate` — the minwise
  * property's ground-truth anchor (identical docs estimate AND measure
  * Jaccard 1) plus the mediant invariant on the fixture (the per-level
  * micro-average always lies between the per-pair extremes). */
class MinhashEstimateSpec extends SparkSpec {
  import spark.implicits._

  test("identical docs land at full agreement with exact Jaccard 1") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    val dir = tempDir("graft-mhest")
    Seq((1L, text), (2L, text), (3L, other))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_minhash_estimate")(spark, dir).collect()
    // Only the identical pair shares a band (the third doc is disjoint).
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    assert(r.getAs[Long]("est16") == 16L)
    assert(r.getAs[Long]("n_pairs") == 1L)
    assert(r.getAs[Double]("micro_jaccard") == 1.0)
    assert(r.getAs[Double]("min_jaccard") == 1.0)
    assert(r.getAs[Double]("max_jaccard") == 1.0)
  }

  test("fixture calibration rows respect domain and mediant bounds") {
    val rows = SparkEntry.queries("dedup_minhash_estimate")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Long]("est16")
      assert(e >= 0L && e <= 16L, s"est16 $e out of domain")
      assert(r.getAs[Long]("sum_inter") <= r.getAs[Long]("sum_union"))
      val (mn, mi, mx) = (r.getAs[Double]("min_jaccard"),
        r.getAs[Double]("micro_jaccard"), r.getAs[Double]("max_jaccard"))
      // Mediant inequality: a sum ratio lies between the extremes of the
      // summed ratios (round-6 wobble allowed at the boundary).
      assert(mn - 1e-6 <= mi && mi <= mx + 1e-6, s"($mn, $mi, $mx)")
    }
  }
}
