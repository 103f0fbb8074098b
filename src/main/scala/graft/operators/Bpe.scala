package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Sessions
import org.apache.spark.sql.graftx.Metrics.Exit

import graft.queries.TextQueries

/** Run-to-target BPE merge training (round-15 verdict #7) — the N-round
  * form behind the declared fixed-[[TextQueries.BpeMerges]]-round
  * `text_bpe_train` oracle instance, completing the driver-loop family
  * (lloyd / PageRank.iterate / Lpa.iterate / this): the declared query
  * pins the pair-count → arg-max → merge semantics on unrolled rounds;
  * this facade trains to a TARGET merge-table size with the real
  * tokenizer-training stop rule — stop early when the best remaining
  * pair's count falls below `minCount` (Sennrich et al. 2016 §3.2 stop
  * merging at frequency 1: a merge seen once generalizes to nothing) or
  * when no adjacent pair remains at all.
  *
  * One deliberate divergence from the declared query's plan: each
  * round collects the aggregated PAIR TABLE to the driver (vocabulary-
  * scale by construction — ≤ Σ_w (|w| − 1) rows over the ≤
  * [[TextQueries.BpeVocabCap]]-row vocabulary, the same artifact class
  * as the merge table a tokenizer ships) and the merges are applied as
  * string LITERALS, so the per-round plan is a pure projection over
  * the capped vocabulary — no per-round cross join at all (the
  * declared query keeps the broadcast-cross form because its oracle
  * must express the winner as a CTE). The corpus is still touched
  * exactly once (the word-count aggregate behind the capped
  * vocabulary).
  *
  * BATCHED merges (round-16 verdict #5 — the real-vocab wall-clock
  * answer): a 32k-merge target as 32k sequential driver jobs is hours
  * of pure scheduling latency at ANY corpus size, so each round
  * applies a BATCH of merges chosen so the result is EXACTLY the
  * sequential trainer's (BpeSpec pins equality on every fixture,
  * planted and real). The batch is the longest prefix of the
  * (count desc, lhs asc, rhs asc)-sorted pair table such that
  *
  *  (a) members are mutually non-interacting — no two share a symbol
  *      (lhs or rhs) — so applying one cannot change another's count
  *      or applicability (a merge only touches adjacencies of its own
  *      two symbols, and replacing two symbols with one never creates
  *      an adjacency between bystander symbols);
  *  (b) the cut is STRICT: the last batched count exceeds the first
  *      excluded count. Every pair a batched merge can CREATE —
  *      (x, ab) from merging (a, b) — has count ≤ the old count of an
  *      interacting pair ((x, a), which shares `a` and is therefore
  *      outside the prefix), hence < every batched count; and
  *      existing-pair counts never increase under a merge. So the
  *      sequential arg-max at step i of the batch still selects
  *      member i: the batch order IS the sequential order.
  *  (c) no member's CREATED symbol collides with an existing one
  *      (ADVICE round 17): merging (a, b) mints the symbol string
  *      a + b, and if that string already names a symbol present in
  *      the pair table (reachable by a different merge path — 'in'+'g'
  *      minting 'ing' where 'ing' exists from 'i'+'ng'), the mint
  *      merges new occurrences INTO the existing symbol, so pairs
  *      involving it can GAIN count mid-batch — breaking (b)'s
  *      "existing counts never increase" premise. The prefix therefore
  *      ends at the first candidate whose concatenation appears as any
  *      lhs/rhs in the collected pair table or equals a previous
  *      member's concatenation, and a candidate whose own lhs/rhs
  *      equals a previous member's concatenation (a pair of the minted
  *      symbol, whose count is stale the moment the minter applies) is
  *      likewise a prefix end. With (c) holding, no batched merge can
  *      touch the count of any pair over the pre-batch symbol
  *      alphabet ∪ minted symbols except the created-pair cases (b)
  *      already bounds.
  *
  * A batch that would shrink below one pair falls back to the plain
  * winner (k = 1 is unconditionally sequential). `maxBatch` bounds the
  * folded replace-expression depth per round. The run posts
  * `LoopEnd("Bpe", merges, Cap | Exhausted, batches)`
  * ([[Loop.run]]): its rounds are MERGES (= rows in the returned
  * table, the probe's target contract), its batches the driver rounds
  * (≤ merges) the batching buys down; a run that throws posts nothing.
  *
  * Loop discipline ([[Loop.run]] owns the session clone and every
  * snapshot's release): the capped vocabulary snapshots once and each
  * round re-snapshots the ≤ cap-row merged vocabulary, checkpointed
  * (real vocab targets run thousands of rounds, the dependency-graph
  * depth [[Loop.snap]]'s checkpoint flag exists for); hitting
  * `targetMerges` is SUCCESS (the budget is the contract, exit `Cap`),
  * stopping early — no adjacent pair left, or the best pair's count
  * below `minCount` — is exit `Exhausted`.
  */
object Bpe {

  /** @param docWords     (doc_id, word) occurrence stream — the
    *                     [[TextQueries.bpeDocWords]] contract (empty
    *                     and marker-bearing words already excluded)
    * @param targetMerges merge-table size to train toward
    * @param minCount     stop once the best pair's weighted count
    *                     drops below this (2 = Sennrich's "frequency
    *                     1 is noise" rule; 1 disables the early stop)
    * @param loopParts    shuffle width for the iterative stage
    * @param maxBatch     cap on merges applied per driver round (bounds
    *                     the folded replace-expression depth; exactness
    *                     does not depend on it)
    * @return the trained merge table (round, lhs, rhs, pair_count),
    *         ≤ targetMerges rows, under the caller's session */
  def train(docWords: DataFrame, targetMerges: Int, minCount: Long = 2L,
            loopParts: Int = 8, maxBatch: Int = 64): DataFrame = {
    require(targetMerges >= 1, s"targetMerges must be positive: $targetMerges")
    require(minCount >= 1L, s"minCount must be positive: $minCount")
    require(maxBatch >= 1, s"maxBatch must be positive: $maxBatch")
    Loop.run("Bpe", docWords.sparkSession, loopParts) { loop =>
      // The one corpus pass: word counts → top-cap vocabulary, wrapped,
      // under the loop session.
      var vocab = loop.snap(Sessions.rebind(
        docWords.groupBy("word").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("word"))
          .limit(TextQueries.BpeVocabCap)
          .select(TextQueries.bpeWrap(col("word")).as("w"), col("cnt")), loop.session))
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      var round = 0
      var batches = 0
      var exhausted = false
      while (round < targetMerges && !exhausted) {
        // The round's collect: the aggregated pair table, UNSORTED —
        // vocabulary-scale (≤ Σ_w (|w| − 1) rows) — then sorted on the
        // driver: a distributed orderBy here would add a range-partition
        // sample job + sort shuffle per round for rows that are about to
        // be collected anyway (measured: +84 % wall over the LIMIT-1
        // loop at 89 rounds). The driver sort uses unsigned UTF-8 byte
        // order — exactly Spark's `asc` on strings — so the arg-max
        // tie-break stays bit-identical to the declared query's.
        val pairs: Array[Row] = TextQueries.bpePairCounts(vocab).collect()
        def u8(s: String): Array[Byte] =
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sorted = pairs.sortWith { (x, y) =>
          val (cx, cy) = (x.getAs[Long]("pair_count"), y.getAs[Long]("pair_count"))
          if (cx != cy) cx > cy
          else {
            val cl = java.util.Arrays.compareUnsigned(
              u8(x.getAs[String]("lhs")), u8(y.getAs[String]("lhs")))
            if (cl != 0) cl < 0
            else java.util.Arrays.compareUnsigned(
              u8(x.getAs[String]("rhs")), u8(y.getAs[String]("rhs"))) < 0
          }
        }
        val ls = sorted.map(_.getAs[String]("lhs"))
        val rs = sorted.map(_.getAs[String]("rhs"))
        val cnts = sorted.map(_.getAs[Long]("pair_count"))
        if (pairs.isEmpty || cnts(0) < minCount) exhausted = true
        else {
          // Longest mutually-non-interacting ≥ minCount prefix, bounded
          // by maxBatch and the remaining merge budget. Condition (c):
          // `symSet` is every symbol the pair table mentions; a candidate
          // whose minted symbol ls+rs is already in it (or was minted by
          // an earlier member), or whose own sides touch an earlier
          // member's mint, ends the prefix — its application could grow
          // an existing pair's count and void the strict-cut proof.
          val used = scala.collection.mutable.Set.empty[String]
          val symSet = new java.util.HashSet[String](pairs.length * 2)
          var si = 0
          while (si < ls.length) { symSet.add(ls(si)); symSet.add(rs(si)); si += 1 }
          val minted = scala.collection.mutable.Set.empty[String]
          val limit = math.min(maxBatch, targetMerges - round)
          var k = 0
          var cut = false
          while (!cut && k < limit && k < pairs.length && cnts(k) >= minCount &&
              !used.contains(ls(k)) && !used.contains(rs(k)) &&
              !minted.contains(ls(k)) && !minted.contains(rs(k))) {
            val cc = ls(k) + rs(k)
            if (symSet.contains(cc) || minted.contains(cc)) cut = true
            else { used += ls(k); used += rs(k); minted += cc; k += 1 }
          }
          // The winner alone is unconditionally sequential — even a
          // colliding mint is applied exactly as the sequential trainer
          // would, and the next round recounts from scratch.
          if (k == 0) k = 1
          // Strict cut (exactness condition b): shrink until the last
          // batched count strictly exceeds the first excluded one; k = 1
          // needs no cut — applying just the winner is sequential.
          while (k > 1 && k < pairs.length && cnts(k - 1) == cnts(k)) k -= 1
          (0 until k).foreach { i =>
            round += 1
            merges += ((round.toLong, ls(i), rs(i), cnts(i)))
          }
          batches += 1
          if (round < targetMerges) {
            // Fold the batch's literal replaces in batch order — the
            // sequential application, one projection, one job.
            val mergedW = (0 until k).foldLeft(col("w")) { (c, i) =>
              TextQueries.bpeApply(c, lit(ls(i)), lit(rs(i))) }
            val next = loop.snap(
              vocab.select(mergedW.as("w"), col("cnt")), checkpoint = true)
            next.count() // materialize before releasing the previous round
            vocab = loop.swap(vocab, next)
          }
        }
      }
      import loop.session.implicits._
      Loop.Done(merges.result().toDF("round", "lhs", "rhs", "pair_count"),
        round, if (exhausted) Exit.Exhausted else Exit.Cap, batches)
    }.orderBy("round")
  }
}
