package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.queries.TextQueries

/** BPE merge-rule training ([[TextQueries.textBpeTrain]]) against an
  * in-test reference implementation: the distributed pipeline (pair-count
  * aggregate → LIMIT-1 arg-max → marker-string replace) must reproduce,
  * round for round, what a sequential greedy BPE trainer produces on the
  * same word-count table — including the left-to-right non-overlapping
  * merge semantics the working representation encodes (the "aaa" case:
  * merging (a, a) yields [aa, a], never [a, aa] or [aa, aa]).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: greedy left-to-right non-overlapping merge. */
  private def mergeLR(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Reference BPE trainer over a (word → count) table: per round, count
    * adjacent symbol pairs weighted by word count, take the arg-max under
    * (count desc, lhs asc, rhs asc), merge everywhere. */
  private def refBpe(words: Map[String, Long], rounds: Int): Seq[(Long, String, String, Long)] = {
    var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (k <- 1 to rounds) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          pc(p) = pc.getOrElse(p, 0L) + c
        }
      }
      if (pc.nonEmpty) {
        val ((l, r), c) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((k.toLong, l, r, c))
        vocab = vocab.map { case (syms, cc) => (mergeLR(syms, l, r), cc) }
      } else vocab = Seq.empty
    }
    out.result()
  }

  private def plant(words: Map[String, Long]): String = {
    val dir = tempDir("graft-bpe")
    // one doc per word repetition keeps the word counts explicit
    val texts = words.toSeq.sortBy(_._1).flatMap { case (w, c) =>
      Seq.fill(c.toInt)(w)
    }
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(dir: String, rounds: Int): Seq[(Long, String, String, Long)] =
    TextQueries.textBpeTrainRounds(rounds)(spark, dir).collect().toSeq
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("lhs"),
                 r.getAs[String]("rhs"), r.getAs[Long]("pair_count")))

  /** [[refBpe]] with the DRIVER LOOP's stop rule ([[graft.operators.Bpe
    * .train]]): run to `target` merges, stopping early when no adjacent
    * pair remains or the best pair's count falls below `minCount`.
    * Returns (merge table, stopped-early). */
  private def refTrain(words: Map[String, Long], target: Int, minCount: Long)
      : (Seq[(Long, String, String, Long)], Boolean) = {
    var vocab = words.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < target && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          pc(p) = pc.getOrElse(p, 0L) + c
        }
      }
      val best = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minCount =>
          k += 1
          out += ((k.toLong, l, r, c))
          vocab = vocab.map { case (syms, cc) => (mergeLR(syms, l, r), cc) }
        case _ => exhausted = true
      }
    }
    (out.result(), exhausted)
  }

  test("train loop: matches the sequential reference at three target sizes") {
    import graft.operators.Bpe
    val words = Map("banana" -> 6L, "bandana" -> 4L, "ananas" -> 3L, "nanny" -> 2L)
    val dir = plant(words)
    for (target <- Seq(2, 5, 9)) {
      val (want, wantEarly) = refTrain(words, target, minCount = 2L)
      val (got, Seq(end)) = loopEnds("Bpe") {
        Bpe.train(TextQueries.bpeDocWords(spark, dir), target,
            minCount = 2L, loopParts = 2)
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
      }
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
      assert(got == want, s"target $target: $got != $want")
      assert(end.rounds == want.size,
        s"target $target: rounds ${end.rounds} != ${want.size}")
      assert((end.exit == Exit.Exhausted) == wantEarly,
        s"target $target: exit ${end.exit}, reference early=$wantEarly")
    }
  }

  test("train loop: batching engages on disjoint-symbol pairs and stays sequential-exact") {
    import graft.operators.Bpe
    // Four disjoint-symbol pairs at strictly descending counts: the
    // batch rule takes all four in ONE driver round (mutually
    // non-interacting, strict cut trivial — nothing excluded), so the
    // 4-merge target costs 1 batch, and the merge table must still be
    // the sequential reference's row for row.
    val words = Map("ab" -> 100L, "cd" -> 90L, "ef" -> 80L, "gh" -> 70L)
    val dir = plant(words)
    val (want, _) = refTrain(words, 4, minCount = 2L)
    val (got, Seq(end)) = loopEnds("Bpe") {
      Bpe.train(TextQueries.bpeDocWords(spark, dir), 4,
          minCount = 2L, loopParts = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(got == want, s"$got != $want")
    assert(end.rounds == 4 && end.batches == 1,
      s"rounds=${end.rounds} batches=${end.batches} — " +
        "the disjoint-pair fixture must train in one batch")
  }

  test("train loop: the strict-cut fallback keeps interacting ties sequential") {
    import graft.operators.Bpe
    // (a,b)=10, (c,d)=10, (c,e)=10: the sorted prefix {(a,b),(c,d)}
    // excludes the interacting tie (c,e) at the SAME count, so the
    // strict cut shrinks the batch to the bare winner — three driver
    // rounds, each sequential, and exact equality with the reference.
    val words = Map("ab" -> 10L, "cd" -> 10L, "ce" -> 10L)
    val dir = plant(words)
    val (want, _) = refTrain(words, 3, minCount = 2L)
    val (got, Seq(end)) = loopEnds("Bpe") {
      Bpe.train(TextQueries.bpeDocWords(spark, dir), 3,
          minCount = 2L, loopParts = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(got == want, s"$got != $want")
    assert(end.rounds == 3 && end.batches == 3,
      s"rounds=${end.rounds} batches=${end.batches} — " +
        "the tied interacting fixture must fall back to one merge per round")
  }

  test("train loop: batched trajectory stays sequential-exact on a deep corpus") {
    import graft.operators.Bpe
    // ADVICE round 17: the batch cut must also guard CREATED-SYMBOL
    // collisions (a member minting a string that already names a symbol
    // in the pair table, whose pairs would then gain count mid-batch).
    // Such collisions are unreachable on the tiny two-letter fixtures
    // above; this corpus drives ~60 merge rounds over a shared alphabet
    // with heavy symbol reuse ("aba"/"ab"/"ba"-style alternative
    // compositions at every length) so the guard's prefix cuts engage
    // and the trajectory must STILL equal the sequential reference,
    // merge for merge, count for count.
    val words = Map(
      "abababab" -> 40L, "babababa" -> 38L, "aabbaabb" -> 36L,
      "abcabcab" -> 34L, "bcabcabc" -> 32L, "cababcba" -> 30L,
      "aaabbbab" -> 28L, "ababcccc" -> 26L, "ccababab" -> 24L,
      "bacbacba" -> 22L, "abbaabba" -> 20L, "cbacbacb" -> 18L,
      "aabababb" -> 16L, "abcbabca" -> 14L, "bbababaa" -> 12L,
      "acacacac" -> 10L, "cacacaca" -> 9L, "aaccaacc" -> 8L,
      "abacabad" -> 7L, "dababadd" -> 6L, "addaadda" -> 5L,
      "dcbadcba" -> 4L, "abcdabcd" -> 3L, "ddccbbaa" -> 2L)
    val dir = plant(words)
    val (want, _) = refTrain(words, 60, minCount = 2L)
    assert(want.size >= 30, s"fixture too shallow: ${want.size} merges")
    val (got, Seq(end)) = loopEnds("Bpe") {
      Bpe.train(TextQueries.bpeDocWords(spark, dir), 60,
          minCount = 2L, loopParts = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(got == want,
      s"batched trajectory diverged from sequential:\n$got\n!=\n$want")
    assert(end.batches < end.rounds,
      s"batches=${end.batches} rounds=${end.rounds} — " +
        "batching must still engage under the collision guard")
  }

  test("train loop: stops early once the best pair falls below minCount") {
    import graft.operators.Bpe
    // "ab" x5 merges once (count 5); the only remaining pair (c, d) has
    // count 1 < minCount = 2, so a target of 10 stops after 1 merge.
    val dir = plant(Map("ab" -> 5L, "cd" -> 1L))
    val (got, Seq(end)) = loopEnds("Bpe") {
      Bpe.train(TextQueries.bpeDocWords(spark, dir), 10,
          minCount = 2L, loopParts = 2)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(got == Seq((1L, "a", "b", 5L)), got.toString)
    assert(end.rounds == 1 && end.exit == Exit.Exhausted,
      s"rounds=${end.rounds} exit=${end.exit}")
  }

  test("train loop: the fixed-round declared query is its prefix") {
    import graft.operators.Bpe
    // On the fixture corpus the declared BpeMerges-round table and the
    // loop trained to the same target must be IDENTICAL — same blocks,
    // same arg-max order (minCount = 1 disables the early stop so the
    // comparison is exact even if a late round's winner is a singleton).
    val declared = TextQueries.textBpeTrain(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("pair_count"))).toSeq
    val loop = Bpe.train(TextQueries.bpeDocWords(spark, sfDir),
        TextQueries.BpeMerges, minCount = 1L, loopParts = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    assert(loop == declared, s"loop $loop != declared $declared")
  }

  test("classic corpus: the distributed trainer matches the sequential reference") {
    // The Sennrich et al. (2016) example vocabulary. Expected first
    // merges: (e, s) from newest+widest (9), then (es, t) (9), then
    // (est, ♦) — no end-marker here, so (l, o) from low+lower (7)...
    // the reference implementation is the ground truth; the point is
    // trajectory equality, not a hand-written table.
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val dir = plant(words)
    val expect = refBpe(words, 6)
    assert(expect.size == 6, s"reference ran dry early: $expect")
    assert(run(dir, 6) == expect)
  }

  test("overlap semantics: merging (a, a) in aaa is left-to-right non-overlapping") {
    val words = Map("aaa" -> 2L, "ab" -> 1L)
    val dir = plant(words)
    // round 1: (a,a) count 4 wins over (a,b) count 1; each "aaa" becomes
    // [aa, a] — so round 2's top pair is (aa, a) count 2, NOT (a, aa).
    val got = run(dir, 2)
    assert(got == Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L)), got.toString)
    assert(got == refBpe(words, 2))
  }

  /** Reference tokenizer: apply the trained rules in round order. */
  private def refEncode(words: Map[String, Long], rounds: Int): Map[String, Int] = {
    val rules = refBpe(words, rounds).map(r => (r._2, r._3))
    words.keysIterator.map { w =>
      var syms = w.map(_.toString).toVector
      rules.foreach { case (l, r) => syms = mergeLR(syms, l, r) }
      w -> syms.length
    }.toMap
  }

  test("encode: per-doc BPE token counts match the reference apply path") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val dir = plant(words)
    val enc = refEncode(words, 6)
    // plant() writes one single-word doc per occurrence, in sorted-word
    // order — so each doc's expected count is its word's encoded length.
    val docs = words.toSeq.sortBy(_._1).flatMap { case (w, c) =>
      Seq.fill(c.toInt)(w)
    }
    val got = TextQueries.textBpeEncodeRounds(6)(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
                 r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))
    assert(got.length == docs.length)
    got.foreach { case (id, nw, nb) =>
      assert(nw == 1L)
      assert(nb == enc(docs(id.toInt)).toLong,
        s"doc $id (${docs(id.toInt)}): got $nb, want ${enc(docs(id.toInt))}")
    }
    // BPE merging never splits: counts are in [1, word length], and at
    // least one word actually compressed under 6 merges.
    assert(got.exists { case (id, _, nb) => nb < docs(id.toInt).length })
  }

  test("encode: multi-word docs sum their words' encoded lengths") {
    val dir = tempDir("graft-bpe-mw")
    // "ab ab cd" and "ab" — (a,b) wins round 1 (count 3), so doc 0
    // encodes to 2·1 + 2 = 4 BPE tokens over 3 words, doc 1 to 1 over 1.
    Seq((0L, "ab ab cd", "en", "s0", 8L), (1L, "ab", "en", "s0", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.textBpeEncodeRounds(1)(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
                 r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"))).toSeq
    assert(got == Seq((0L, 3L, 4L), (1L, 1L, 1L)), got.toString)
  }

  test("declared rounds on the fixture corpus: full rule table, positive counts") {
    val rows = SparkEntry.queries("text_bpe_train")(spark, sfDir).collect()
    assert(rows.length == TextQueries.BpeMerges, rows.length.toString)
    assert(rows.map(_.getAs[Long]("round")).toSeq ==
      (1 to TextQueries.BpeMerges).map(_.toLong))
    rows.foreach { r =>
      assert(r.getAs[Long]("pair_count") > 0L)
      assert(r.getAs[String]("lhs").nonEmpty && r.getAs[String]("rhs").nonEmpty)
    }
  }
}
