package graft

/** Pins `text_lm_fluency`'s semantics on a planted micro-corpus where
  * every bigram count — and therefore every score — is closed-form:
  *
  *   doc 0 "a b a b":  bigrams (a,b)×2, (b,a)×1
  *   doc 1 "a b":      (a,b)×1
  *   doc 2 "a c":      (a,c)×1
  *   doc 3 "solo":     < 2 words — no bigram, excluded by contract
  *
  * Model: c(a,b)=3, c(b,a)=1, c(a,c)=1; contexts c(a,·)=4, c(b,·)=1.
  * Scaled conditional probabilities (⌊10⁶·c12/c1⌋, exact integers):
  * p(a,b)=750000, p(b,a)=1000000, p(a,c)=250000. Doc scores are exact
  * one-division means: doc 0 = 2500000/3 = 833333.333333 (the rounding
  * case), doc 1 = 750000.0, doc 2 = 250000.0 — and the ordering
  * (common continuations score above rare ones) is the CCNet fluency
  * signal the operator exists for. */
class LmFluencySpec extends SparkSpec {

  import spark.implicits._

  test("planted micro-corpus: closed-form scores, bigram-less doc excluded") {
    val dir = tempDir("graft-lm")
    Seq((0L, "a b a b"), (1L, "a b"), (2L, "a c"), (3L, "solo"))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.queries.TextQueries.textLmFluency(spark, dir).collect()
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    val out = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L), "bigram-less doc must be excluded")
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((3L, 833333.333333)), s"doc 0: ${out(0L)}")
    assert(out(1L) == ((1L, 750000.0)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((1L, 250000.0)), s"doc 2: ${out(2L)}")
    // The fluency ordering: the doc whose continuation is the
    // corpus-common one outscores the doc with the rare continuation.
    assert(out(1L)._2 > out(2L)._2)
  }
}
