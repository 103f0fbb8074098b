package graft

import java.nio.file.Files

import graft.queries.{DedupQueries, SimilarityQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Metrics, Sessions}

/** One-shot 100× VOLUME probe for the heavy plan classes
  * (VERDICT r4 #5 / r5 next #3 / r6 next #1): the dedup composition
  * (minhash-capped candidates → jaccard-on-lsh rescoring → raw
  * connected-component labels), the span profiling/removal pair, and —
  * new in round 7 — the EMBEDDING family (the bucket self-join feeding a
  * rank window in `sim_knn_graph`, and the sign-LSH blocked
  * `dedup_embedding_pairs`), measured at 1× and SPARK_GRAFT_VOL_FACTOR×
  * (default 100×) the sf0.1 corpus. The embedding entries exercise the
  * documented planes-track-log₂(n) deployment rule at the probe factor:
  * ⌈log₂ factor⌉ extra hyperplanes hold bucket occupancy ≈ the candidate
  * budget — and for the pairs query, whose TABLE count also grows for
  * recall, plane growth absorbs the table growth too (2^k tracks L·n;
  * see ScaleFixture.planeFixedPoint). RecallSpec pins every grown
  * form recall-safe: kNN at k = 10 and 13, pairs at (8,3) and (12,5).
  *
  * ScaleProbeSpec's 10× gate runs every build; this main exists because a
  * single 100× point is the strongest linearity evidence this host can
  * produce — IF the gate is host-noise-free. So only the VOLUME gate from
  * ScaleProbeSpec applies here: shuffle-records-read ratio ≤ 2× linear
  * (≤ 2·factor), join-output rows ≤ 2× linear (the round-7 fourth arm —
  * a hash-join quadratic collapsed into a same-stage aggregate shuffles
  * nothing, but its join nodes' numOutputRows counts every pair), disk
  * spill bounded, and no nested-loop join in any EXECUTED plan (checked
  * structurally on the final adaptive plan — round-6 ADVICE: the
  * pre-execution sparkPlan cannot show an AQE runtime re-plan). Record
  * counts, join-row counts and plan shape are properties of the PLAN,
  * not the VM — this box's documented stall episodes inflate wall 10-30×
  * and even thread-CPU time (memory stalls are on-CPU), which is exactly
  * why wall/cpu are RECORDED in the artifact for context but never gated
  * on.
  *
  * The corpora are [[ScaleFixture]]'s (its scaladoc gives the salting),
  * at factor× the sf0.1 tables; so are the entries' queries. This main
  * keeps its gates and the names it runs.
  *
  * Auto-broadcast is DISABLED for the probe session: the first run of
  * this probe failed its own gate at 274×/360× "growth" on
  * minhash-capped and clusters because the unhinted band-table self-join
  * BROADCASTS at 1× (zero shuffle records on the join sides) and crosses
  * to a real shuffle join at 100× — a plan-class transition, not
  * quadratic work (jaccard-on-lsh, whose joins pin SHUFFLE_HASH and so
  * keep one plan class, measured 117.8× ≈ linear on the very same run).
  * At the actual target scale nothing in these pipelines broadcasts, so
  * forcing the shuffle-join class at BOTH scales is the honest baseline:
  * the gate then measures how shuffle volume SCALES, not where the
  * broadcast threshold happens to sit. Explicit broadcast() hints (the
  * tiny scalar/size tables) still broadcast — hints override the
  * threshold — which is also their posture at 100 TB.
  *
  * The record/join floors (a flat 10k-record 1× baseline minimum) exist
  * so a near-zero 1× denominator can't flake the gate — but they also
  * mean a passing entry can ride the floor rather than 2×-linear growth
  * (round-6 ADVICE: a 500× ratio could print next to pass=true with no
  * visible reason). Any entry whose binding bound was the floor is
  * flagged `floor_admitted` in the artifact and on stdout, so a huge
  * ratio that passed is visibly floor-admitted rather than silently
  * green.
  *
  * Emits one JSON artifact (SPARK_GRAFT_VOL_OUT, default
  * volprobe_out.json in the working dir) with per-query raw numbers,
  * ratios, and gate results; exits non-zero if any gate fails — AFTER
  * the finally block has removed the multi-GB temp corpora and stopped
  * the session (round-6 ADVICE: sys.exit inside the try skipped the
  * cleanup on exactly the failure path).
  */
object VolumeProbe {

  /** The [[ScaleFixture.entries]] this probe gates, in run order. */
  private val names = Seq(
    "dedup_minhash_capped", "dedup_jaccard_on_lsh", "dedup_minhash_estimate",
    "dedup_clusters_raw", "dedup_ngram_jaccard_capped", "dedup_containment",
    "graph_triangle_count", "graph_pagerank", "graph_label_propagation",
    "text_bpe_train", "text_bpe_encode", "dedup_simhash_banded",
    "text_dup_span_ratio", "text_lm_fluency", "text_ccnet_buckets",
    "text_fuzzy_join_blocked", "text_fuzzy_join_multikey",
    "linkage_entity_clusters", "linkage_golden_record", "text_inverted_index",
    "split_leakage_audit", "text_dedup_spans", "sim_knn_graph", "sim_ann_lsh",
    "dedup_embedding_pairs", "dedup_semdedup", "emb_kmeans",
    "sample_dsir_weights", "emb_pq_codes", "sim_pq_adc_topk", "sim_ivfpq_topk",
    "sim_ivfpq_residual_topk", "sim_ivfpq_trained_topk", "sim_ivfpq_rerank_topk",
    "sim_ivfpq_nprobe_topk", "sim_ivfpq_clustered_topk",
    "sim_ivfpq_full_trained_topk", "sim_ivfpq_full_clustered_topk",
    "sim_ivfpq_append", "sim_ivfpq_delete_topk", "sim_ivfpq_append_nprobe",
    "sim_ivfpq_cell_stats", "sim_ivfpq_gc_stats", "sim_ivfpq_compact_topk",
    "sim_ivfpq_cell_split", "sim_ivfpq_drift_guard", "emb_pq_trained_codes",
    "kmeans_lloyd", "pagerank_iterate", "bpe_train_loop", "lpa_iterate")

  /** One measured run: query `q` over `dir` at `parts` shuffle
    * partitions, CONSTRUCTED and written to the noop sink inside one
    * [[Metrics.measure]] window — the iterative operators do their work
    * eagerly at construction — returning (wall seconds, the window).
    * Snapshot caches release AFTER the timer: cleanup is harness
    * bookkeeping, and carrying a previous run's corpus-scale cached RDDs
    * into the next measurement is the storage hoarding ADVICE round 3
    * flagged. ScaleProbeSpec measures through this too. */
  private[graft] def measure(spark: SparkSession, q: DedupQueries.Q,
      dir: String, parts: Int): (Double, Metrics.Measured) = {
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    val t0 = System.nanoTime()
    val (_, m) = Metrics.measure(spark) {
      q(spark, dir).write.mode("overwrite").format("noop").save()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Sessions.releaseSnapshots()
    (wall, m)
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_VOL_FACTOR", "100").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_VOL_OUT", "volprobe_out.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSpark.builder(cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // see class doc
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional comma-separated query-name filter for iterating on one
    // entry without paying the full ~25-min probe. The canonical 100×
    // artifact must come from an unfiltered run — ALL entries present;
    // the 1000× decade artifact is a DELIBERATELY filtered run over the
    // flagship dedup chain + the span/audit
    // families (the full family at 1000× would spill the exact-baseline
    // entries' ~37 GB each for no additional plan-class evidence).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_VOL_ONLY").map(_.split(",").map(_.trim).toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))

    val dir1 = Files.createTempDirectory("graft-vol1").toString
    val dirN = Files.createTempDirectory(s"graft-vol$factor").toString
    var exitCode = 0
    try {
      // Entries whose declared plans carry exact-allowlisted bounded
      // broadcast cross joins (BroadcastGuardSpec documents the bounds);
      // their plan-shape arm pins the ABSOLUTE BNLJ count per entry at
      // both arms (round-13 ADVICE: mere cross-arm equality would pass an
      // unbounded nested loop present at BOTH arms — e.g. a regression
      // that drops the broadcast bound at fixture scale too). The counts
      // are the declared plans' own: emb_kmeans runs two Lloyd
      // iterations = two ≤ 8-row centroid cross joins; dsir's one cross
      // join is the scalar totals row; ivfpq's is the ≤ |cells|-row
      // probe-routing cross. kmeans_lloyd's count is ROUNDS-dependent
      // (one centroid cross per round) and pinned separately below.
      // The trained-cell ivfpq's count is the PLAN-TREE node count of
      // its bounded assign crosses after physical subtree sharing: the
      // logical tree duplicates the c2-fed chains, the planner shares
      // part of them, and the identity-deduped walk measures 6 BNLJ
      // nodes at every scale (4 distinct assigns — c1, c2, cells, probe
      // routing — plus the two re-rooted copies the sharing leaves).
      // AQE's stage cache dedupes the actual WORK down to exactly three
      // corpus assignment passes (BroadcastGuardSpec's allowlist
      // measurement).
      val boundedNested = Map("emb_kmeans" -> 2, "sample_dsir_weights" -> 1,
        "sim_ivfpq_topk" -> 1, "sim_ivfpq_residual_topk" -> 1,
        "sim_ivfpq_trained_topk" -> 6,
        // rerank wraps the sim_ivfpq_topk plan once (its one routing
        // cross) — the refine stage adds equi joins only; nprobe=2 is
        // the same index plan with a wider routing filter.
        "sim_ivfpq_rerank_topk" -> 1, "sim_ivfpq_nprobe_topk" -> 1,
        // clustered: same plan as sim_ivfpq_topk with the codes side
        // read from the pre-ensured cell-partitioned catalog table —
        // the one routing cross remains (the table write happens in
        // fixture setup, outside the measured run).
        "sim_ivfpq_clustered_topk" -> 1,
        // full-trained IVFPQR: the three Lloyd-chain assign crosses
        // (c1, c2, final cells) run INSIDE the residual-subspace
        // snapshot's one materialization job (everything downstream —
        // training rounds, encode, scan, refine — is equi joins over
        // the cached frame, so no re-rooted copies survive sharing).
        "sim_ivfpq_full_trained_topk" -> 3,
        // full-clustered: EVERY trained piece reads from pre-ensured
        // catalog tables (codes DPP-pruned, cells, codebook), so the
        // one bounded cross left is the probe-side KMeans.assign
        // routing against the <= 8-row persisted cell table.
        "sim_ivfpq_full_clustered_topk" -> 1,
        // append-admitted scan: same deployment plan as full-clustered
        // (probe-side assign is the one bounded cross); drift guard's
        // one cross is the corpus-side assign through the frozen cells.
        "sim_ivfpq_append" -> 1, "sim_ivfpq_drift_guard" -> 1,
        // delete: the append plan's probe-side assign cross — the
        // logical tree instantiates the <= 5-row probe pipeline twice
        // (scan distance tables + the probed-cell list pruning the
        // tombstone fetch) but the planner SHARES the subtree, so one
        // BNLJ node survives (measured at the 10x smoke); tombstone
        // build is ingest. cell stats' one cross is the <= |cells|-row
        // totals broadcast; the nprobe dial's is the rank <= 2 routing
        // cross.
        "sim_ivfpq_delete_topk" -> 1, "sim_ivfpq_append_nprobe" -> 1,
        "sim_ivfpq_cell_stats" -> 1,
        // compact/split: the deployment scan's one probe-side assign
        // cross (over the 8-row gc generation's cells / the 9-row split
        // cells table); the reclaim and split jobs' own crosses live
        // inside the tables' one-time writes (fixture setup).
        "sim_ivfpq_compact_topk" -> 1, "sim_ivfpq_cell_split" -> 1,
        // semdedup's two bounded crosses are the two routing levels of
        // the two-level assignment (round-15: the ≤ r-row super table
        // against the corpus — level 1 — and against the ≤ k-row cell
        // seed table — level 0), both inside the assigned snapshot's
        // materialization job, captured by the runtime plan walk; the
        // level-2 refine is a broadcast EQUI join, not a cross.
        "dedup_semdedup" -> 2,
        // bpe: one ≤ 1-row winner cross join per merge round, except the
        // last round whose merge has no consumer and is never built; the
        // encode path consumes every winner, so it carries the full
        // rounds of apply crosses on top of the rounds − 1 train merges.
        "text_bpe_train" -> (graft.queries.TextQueries.BpeMerges - 1),
        "text_bpe_encode" -> (2 * graft.queries.TextQueries.BpeMerges - 1))
      // The saturation ladder's input is the DEPLOYED corpus size —
      // factor× the 1× doc count (a cheap metadata count).
      val nDocs1 = spark.read.parquet(s"$sf/documents.parquet").count()
      val table = ScaleFixture.entries(factor, nDocs1).map(e => e.name -> e).toMap
      val entries = names.filter(wanted).map(table)
      ScaleFixture.write(spark, sf, dir1, dirN, factor, entries.flatMap(_.kinds))

      // Pre-ensure the cell-partitioned codes tables for the clustered
      // IVFADC entry so the MEASURED run reads the catalog table only —
      // the one-time partitioned write is ingest (fixture setup), not
      // the retrieval plan the gates are about (the bucketedFacts
      // doctrine: layout is paid at ingest, amortized over queries).
      if (wanted("sim_ivfpq_clustered_topk")) {
        SimilarityQueries.ivfpqCodesTable(spark, dir1)
        SimilarityQueries.ivfpqCodesTable(spark, dirN)
      }
      if (wanted("sim_ivfpq_full_clustered_topk")) {
        SimilarityQueries.ivfpqFullPersisted(spark, dir1)
        SimilarityQueries.ivfpqFullPersisted(spark, dirN)
      }
      if (wanted("sim_ivfpq_append") || wanted("sim_ivfpq_drift_guard") ||
          wanted("sim_ivfpq_delete_topk") || wanted("sim_ivfpq_append_nprobe") ||
          wanted("sim_ivfpq_cell_stats") || wanted("sim_ivfpq_gc_stats") ||
          wanted("sim_ivfpq_compact_topk") || wanted("sim_ivfpq_cell_split")) {
        SimilarityQueries.ivfpqAppendPersisted(spark, dir1)
        SimilarityQueries.ivfpqAppendPersisted(spark, dirN)
      }
      // The tombstone table is ingest too (the delete ADMISSION is the
      // tombstone-isolation arm's measured job; the declared query's
      // cost is the fetch + anti-join it gates).
      if (wanted("sim_ivfpq_delete_topk") || wanted("sim_ivfpq_gc_stats") ||
          wanted("sim_ivfpq_compact_topk")) {
        SimilarityQueries.ivfpqTombstones(spark, dir1)
        SimilarityQueries.ivfpqTombstones(spark, dirN)
      }
      // The compacted generation and the split generation are ingest as
      // well — the one-time rewrites are the maintenance jobs their
      // isolation arms measure; the declared queries read the catalog.
      if (wanted("sim_ivfpq_compact_topk")) {
        SimilarityQueries.ivfpqCompactedCodes(spark, dir1)
        SimilarityQueries.ivfpqCompactedCodes(spark, dirN)
      }
      if (wanted("sim_ivfpq_cell_split")) {
        SimilarityQueries.ivfpqSplitTables(spark, dir1)
        SimilarityQueries.ivfpqSplitTables(spark, dirN)
      }

      // Shuffle partitions TRACK the measured volume (the loop entries
      // take their loop width from it) — the deployment posture: a
      // 1000-executor cluster sizes partitions to a fixed per-partition
      // byte budget, not a fixed count. At
      // factor ≤ 100 this is the same 32 every committed artifact used;
      // at 1000× a fixed 32 would pack 10× the 100× partition size and
      // the probe OOMs on execution memory — a fixture-host artifact,
      // not an operator property. Partition count changes NO gated
      // quantity (shuffle records, join rows, and plan class are
      // partition-layout-invariant; PartitionInvarianceSpec pins the
      // results themselves).
      val partsN = math.min(1024, cpus.toInt * math.max(1, factor / 100))

      // Warm-up (JIT, codegen, parquet reader) so the 1× baseline isn't
      // cold-start; the gated quantities are record counts, which warm-up
      // cannot change, but clean context numbers are worth one cheap run.
      measure(spark, entries.head.q1, dir1, cpus.toInt)

      var allPass = true
      val results = entries.map { case ScaleFixture.Entry(name, kinds, q1, qN) =>
        val (w1, m1) = measure(spark, q1, dir1, cpus.toInt)
        val (wN, mN) = measure(spark, qN, dirN, partsN)
        val (k1, plans1, kN, plansN) = (m1.work, m1.plans, mN.work, mN.plans)
        // A loop entry's rounds, and whether it ended before its cap, come
        // from the LoopEnd its own run posted inside the window: -1 and
        // false when the loop did not finish there.
        def rounds(m: Metrics.Measured, loop: String): Int =
          m.loop(loop).fold(-1)(_.rounds)
        def beforeCap(m: Metrics.Measured, loop: String): Boolean =
          m.loop(loop).exists(_.exit != Metrics.Exit.Cap)
        val (rounds1, roundsN) = (rounds(m1, "Components"), rounds(mN, "Components"))
        val (kmRounds1, kmRoundsN) = (rounds(m1, "KMeans"), rounds(mN, "KMeans"))
        val (kmConv1, kmConvN) = (beforeCap(m1, "KMeans"), beforeCap(mN, "KMeans"))
        val (prRounds1, prRoundsN) = (rounds(m1, "PageRank"), rounds(mN, "PageRank"))
        val (prConv1, prConvN) = (beforeCap(m1, "PageRank"), beforeCap(mN, "PageRank"))
        val (lpaRounds1, lpaRoundsN) = (rounds(m1, "Lpa"), rounds(mN, "Lpa"))
        val (lpaTerm1, lpaTermN) = (beforeCap(m1, "Lpa"), beforeCap(mN, "Lpa"))
        val (bpeRounds1, bpeRoundsN) = (rounds(m1, "Bpe"), rounds(mN, "Bpe"))
        // Entries whose DECLARED plan carries bounded nested-loop joins
        // (the exact-allowlisted <= k-row broadcast cross joins: kmeans
        // centroid tables, dsir's scalar totals row) get the bounded
        // posture instead of the blanket no-nested-loop arm: no
        // CartesianProduct anywhere, and the BNLJ COUNT pinned equal at
        // both arms — a nested loop APPEARING at factor x that was not
        // in the 1x plan is exactly the regression the blanket arm
        // catches elsewhere.
        var planSane =
          boundedNested.get(name) match {
            case Some(expected) =>
              !Metrics.hasCartesian(plansN) &&
                Metrics.nestedLoopCount(plans1) == expected &&
                Metrics.nestedLoopCount(plansN) == expected
            // kmeans_lloyd's expected BNLJ count is rounds-dependent;
            // its entry block below REASSIGNS planSane with the
            // one-bounded-cross-per-round pin.
            case None if name == "kmeans_lloyd" => !Metrics.hasCartesian(plansN)
            case None => !Metrics.hasNestedLoop(plansN)
          }
        val recRatio = kN.shuffleRecordsRead.toDouble / math.max(k1.shuffleRecordsRead, 1L)
        val joinRatio = kN.joinOutputRows.toDouble / math.max(k1.joinOutputRows, 1L)
        var recOk = kN.shuffleRecordsRead <=
          2L * factor * math.max(k1.shuffleRecordsRead, 10000L)
        var joinOk = kN.joinOutputRows <=
          2L * factor * math.max(k1.joinOutputRows, 10000L)
        // dedup_simhash_banded gates joinrows differently (round-10
        // measurement): its join output is POST-residual (the Hamming ≤ 4
        // check rides the join condition), so every join row is a TRUE
        // near-dup pair × its band multiplicity (≤ C(m,r)) — lower-bounded
        // by the fixture's real pair density. That density does not track
        // factor× here: SimHash Hamming distance is NOT invariant under
        // the per-copy word tagging (unlike Jaccard, which is invariant
        // under any injective token renaming — why the shingle entries sit
        // at ~1× linear): every copy re-draws its ~40-word vocabulary's
        // vote vectors, and near the ≤4 threshold the per-copy pair count
        // is heavy-tailed (measured per-copy quantiles at this corpus:
        // min 650 / median 3.8 k / max 27.7 k, CV 0.87, deterministic per
        // tag; the raw fixture's own draw is 1493 — a LOW draw). The flat
        // 2×-linear bound is therefore unsatisfiable by ANY correct
        // implementation: the 100× corpus truly CONTAINS ~3.9× the
        // linear-extrapolated pairs, all within-copy. The honest gates:
        //  (a) joinrows track the MEASURED true-output growth (join rows
        //      per result pair stay ≤ 2× flat — multiplicity, the only
        //      implementation-controlled factor, does not grow); and
        //  (b) ISOLATION: zero cross-copy result pairs — the sharp form
        //      of "key saturation mixed unrelated docs into the result",
        //      deterministic and draw-noise-free.
        // Bucket-saturation pressure itself stays gated by the records
        // arm (the band-table shuffle is the saturating structure) and
        // the in-join residual keeps the candidate superset from ever
        // materializing downstream.
        val extra = new StringBuilder
        var entryExtraOk = true
        // True when a custom, self-labelling joinrows/records gate (the
        // `joinrows_gate`/`records_gate` artifact fields) replaced the
        // flat 2×-linear bound; the floor-admission flag below must not
        // fire for those — their pass is explained by the recorded gate,
        // not the 10k floor.
        var customJoinGate = false
        var customRecGate = false
        if (name == "dedup_simhash_banded") {
          val res1 = q1(spark, dir1).count()
          Sessions.releaseSnapshots()
          val resDfN = qN(spark, dirN)
          // One pass over the result for all three isolation quantities:
          // total, cross-copy count, and the max Hamming in the result.
          val isoRow = resDfN.agg(count(lit(1)).as("n"),
            sum(when(call_function("div", col("doc_a"), lit(100000000L)) =!=
              call_function("div", col("doc_b"), lit(100000000L)), 1L)
              .otherwise(0L)).as("cross"),
            max(col("hamming")).as("maxham")).head
          val resN = isoRow.getLong(0)
          val cross = isoRow.getLong(1)
          val maxHamN = isoRow.getAs[Number](2).longValue // bit_count is int-typed
          Sessions.releaseSnapshots()
          val growth = resN.toDouble / math.max(res1, 1L)
          // The two arms now run DIFFERENT band parameterizations — the
          // declared (6,2) at 1×, the ladder's (m, r) at factor× — so
          // the gates normalize by the C(m,r)/C(6,2) band-multiplicity
          // the ladder step itself adds: band rows per doc and join rows
          // per true pair each scale by exactly that known constant.
          def comb(m: Int, r: Int): Long =
            ((m - r + 1) to m).map(_.toLong).product /
              (1 to r).map(_.toLong).product
          val (mN, rN) = DedupQueries.simhashBandedParamsFor(nDocs1 * factor)
          val bandRatio = comb(mN, rN).toDouble / comb(6, 2)
          recOk = kN.shuffleRecordsRead.toDouble <=
            2.0 * factor * bandRatio * math.max(k1.shuffleRecordsRead, 10000L)
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * growth * bandRatio * math.max(k1.joinOutputRows, 10000L)
          // Isolation, decade-honest form (round 14): the old cross == 0
          // gate was a fixture-STATISTICS canary — at 100× the expected
          // chance cross-copy Hamming ≤ 4 mass is ≪ 1 and the draw was
          // 0, but at 1000× (1.25e13 cross pairs) the expectation is
          // genuinely positive, and those pairs are TRUE results (the
          // per-copy word salting makes cross-copy signatures
          // independent draws, some of which land within Hamming 4 by
          // birthday statistics — measured at the first 1000× run). The
          // implementation-controlled failure the arm exists to catch is
          // a RESIDUAL regression: drop `hamming <= 4` from the join
          // condition and every coincidental cross-copy band-key
          // collision (~1.6e8 enumerated pairs at (8,4)·1000×) floods
          // the result. So the gates are (a) max Hamming in the result
          // ≤ 4 — the residual pinned directly, deterministic — and
          // (b) cross-copy pairs ≤ 1% of the result (chance mass is
          // ~1e-4 of it; a residual regression is ~30×).
          val isolation = maxHamN <= 4L && cross * 100L <= resN
          entryExtraOk = entryExtraOk && isolation
          extra ++= s""""result_1x":$res1,"result_${factor}x":$resN,"""
          extra ++= f""""result_growth":$growth%.2f,"cross_copy_pairs":$cross,"""
          extra ++= s""""max_hamming_${factor}x":$maxHamN,"""
          extra ++= s""""gate_isolation":$isolation,"""
          extra ++= s""""isolation_gate":"max_hamming<=4_and_cross_copy<=1pct_of_result","""
          extra ++= s""""m_r_1x":"(6,2)","m_r_${factor}x":"($mN,$rN)","""
          extra ++= f""""band_ratio":$bandRatio%.2f,"""
          extra ++= s""""records_gate":"records<=2x_linear_x_band_ratio","""
          extra ++= s""""joinrows_gate":"joinrows<=2x_true_result_growth_x_band_ratio","""
          customJoinGate = true
          customRecGate = true
        }
        // round 11: the fuzzy join's entry gate — the MaxBlock cap must
        // actually ENGAGE on the factor× Zipf block (ocN ≥ 1 over-cap
        // blocks, 0 at 1× where the hot block is still under cap), which
        // is what keeps the flat 2×-linear joinrows arm satisfiable at
        // all: uncapped, the hot block alone adds C(20·factor, 2) pairs.
        if (kinds.contains(ScaleFixture.Fz)) {
          // Block sizes in the query's OWN block space: last token for
          // the single-key form, the tagged last ∪ first union for the
          // multikey (its per-key spaces are disjoint by tag, so one
          // union count is exact).
          def overCap(dir: String): Long = {
            val names = spark.read.parquet(s"$dir/fz/part.parquet")
              .groupBy("p_name").agg(count(lit(1)).as("cnt"))
            val keyed =
              if (name == "text_fuzzy_join_multikey")
                names.select(concat_ws("#", lit("L"),
                    element_at(split(col("p_name"), " "), -1)).as("blk"))
                  .unionByName(names.select(concat_ws("#", lit("F"),
                    element_at(split(col("p_name"), " "), 1)).as("blk")))
              else
                names.select(element_at(split(col("p_name"), " "), -1).as("blk"))
            keyed.groupBy("blk").agg(count(lit(1)).as("bsz"))
              .filter(col("bsz") > graft.queries.LinkageQueries.MaxBlock)
              .count()
          }
          val oc1 = overCap(dir1)
          val ocN = overCap(dirN)
          // The hot block holds 20·factor names, so it crosses MaxBlock
          // only once factor > MaxBlock/20 — at the canonical factor 100
          // (2000 > 1000) the engagement is REQUIRED; a small-factor
          // smoke run (e.g. 10×, hot block 200) legitimately stays under
          // cap and must not fail this arm.
          val hotOver = 20L * factor > graft.queries.LinkageQueries.MaxBlock
          val capEngaged = oc1 == 0L && (!hotOver || ocN >= 1L)
          entryExtraOk = entryExtraOk && capEngaged
          extra ++= s""""overcap_blocks_1x":$oc1,"overcap_blocks_${factor}x":$ocN,"""
          extra ++= s""""gate_cap_engaged":$capEngaged,"""
        }
        // round 11: the inverted index's entry gate — the posting-row
        // bound held at factor× (max df_shard ≤ PostingShard), i.e. the
        // hot-term ObjectHashAggregate never materialized an unbounded
        // collect_list no matter how common the term.
        if (name == "text_inverted_index") {
          val mx = qN(spark, dirN)
            .agg(max(col("df_shard"))).head.getLong(0)
          Sessions.releaseSnapshots()
          val bounded = mx <= graft.queries.LinkageQueries.PostingShard
          entryExtraOk = entryExtraOk && bounded
          extra ++= s""""max_df_shard_${factor}x":$mx,"""
          extra ++= s""""gate_posting_bound":$bounded,"""
        }
        // dedup_clusters_raw normalizes its joinrows arm by the MEASURED
        // convergence rounds (round-10, from the first 1000× run failing
        // this arm at 2037.7× vs the flat 2000× bound): every CC round
        // re-joins the full edge set, so join output is rounds × O(edges),
        // and rounds track the MAX component diameter over the corpus —
        // O(log d) by pointer-jumping, but the max over factor×
        // independent per-copy candidate-graph draws (minhash signatures
        // re-draw under the per-copy word tagging) exceeds the single 1×
        // draw. The per-round join volume is the implementation-controlled
        // quantity, so the gates are: (a) joinrows ≤ 2× linear PER ROUND,
        // and (b) rounds grow at most additively by ⌈log₂ factor⌉ + 2 —
        // the max-of-draws bound for the geometric-tailed diameter
        // distribution; a propagation-only (non-doubling) regression
        // would blow (b) by orders, not units.
        if (Set("dedup_clusters_raw", "linkage_entity_clusters",
            "linkage_golden_record")(name) &&
            rounds1 > 0 && roundsN > 0) {
          val roundScale = roundsN.toDouble / rounds1
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * factor * roundScale * math.max(k1.joinOutputRows, 10000L)
          val roundsOk = roundsN <=
            rounds1 + math.ceil(math.log(factor) / math.log(2)).toInt + 2
          entryExtraOk = entryExtraOk && roundsOk
          extra ++= s""""rounds_1x":$rounds1,"rounds_${factor}x":$roundsN,"""
          extra ++= s""""gate_rounds":$roundsOk,"""
          extra ++= s""""joinrows_gate":"joinrows<=2x_linear_per_round","""
          customJoinGate = true
        }
        // round 13: bounded-BNLJ entries record both arms' nested-loop
        // counts (the pinned-equality gate is folded into planSane
        // above); dsir additionally gates that NO broadcast subtree
        // contains a documents scan at either arm — the recorded
        // join-side evidence round-12 verdict #1 asked for.
        boundedNested.get(name).foreach { expected =>
          val b1 = Metrics.nestedLoopCount(plans1)
          val bN = Metrics.nestedLoopCount(plansN)
          extra ++= s""""bnlj_1x":$b1,"bnlj_${factor}x":$bN,"bnlj_expected":$expected,"""
          extra ++= s""""plan_sane_gate":"no_cartesian_and_bnlj_count==expected_both_arms","""
        }
        if (name == "sample_dsir_weights") {
          val cb1 = Metrics.broadcastsContainingScan(plans1, "documents.parquet")
          val cbN = Metrics.broadcastsContainingScan(plansN, "documents.parquet")
          val noCorpusBroadcast = cb1 == 0 && cbN == 0
          entryExtraOk = entryExtraOk && noCorpusBroadcast
          extra ++= s""""corpus_broadcasts_1x":$cb1,"corpus_broadcasts_${factor}x":$cbN,"""
          extra ++= s""""gate_no_corpus_broadcast":$noCorpusBroadcast,"""
        }
        // round 14 (r13 verdict #1 done-criterion): the IVF×PQ scan in
        // isolation — snapshot the index (codes + per-probe scan table),
        // measure ONLY the ADC scan, and pin its join output to the
        // probed-cell mass: exactly 8 lookups per probed-cell candidate,
        // ≤ 2× for metric slack, and ≤ HALF the full-scan equivalent
        // (8 · |probes| · n — what sim_pq_adc_topk's unrouted scan pays).
        // With the fixture's 10 cells the measured mass sits near n/10
        // per probe; a regression that drops the cell key from the scan
        // join reverts to ~n per probe and fails both arms of the gate.
        if (name.startsWith("sim_ivfpq") && name != "sim_ivfpq_rerank_topk" &&
            name != "sim_ivfpq_drift_guard" && name != "sim_ivfpq_cell_stats" &&
            name != "sim_ivfpq_gc_stats") {
          def scanProbe(dir: String, parts: Int): (Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (codes, scanTab) =
              if (name == "sim_ivfpq_residual_topk")
                SimilarityQueries.ivfpqResidualIndex(spark, dir)
              else if (name == "sim_ivfpq_trained_topk")
                SimilarityQueries.ivfpqTrainedIndex(spark, dir)
              else if (name == "sim_ivfpq_nprobe_topk")
                SimilarityQueries.ivfpqIndexNprobe(spark, dir, 2)
              else if (name == "sim_ivfpq_clustered_topk")
                (SimilarityQueries.ivfpqCodesTable(spark, dir),
                  SimilarityQueries.ivfpqIndexNprobe(spark, dir, 1)._2)
              else if (name == "sim_ivfpq_full_trained_topk")
                SimilarityQueries.ivfpqTrainAll(spark,
                  graft.sources.Tables.embeddings(spark, dir)) match {
                  case (_, _, c, t) => (c, t) }
              else if (name == "sim_ivfpq_full_clustered_topk")
                (SimilarityQueries.ivfpqFullPersisted(spark, dir)._1,
                  SimilarityQueries.ivfpqTrainAll(spark,
                    graft.sources.Tables.embeddings(spark, dir))._4)
              else if (name == "sim_ivfpq_append") {
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_delete_topk") {
                // The LIVE codes: full tombstone anti-join applied up
                // front, so the probed-cell mass bound below is the
                // post-delete one (the declared plan prunes the
                // tombstone fetch to the probed cells; for the snapshot
                // the unpruned anti is the same live set).
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                val tomb = SimilarityQueries.ivfpqTombstones(spark, dir)
                  .select(col("vec_id").as("t_id"), col("cell").as("t_cell"))
                val live = c.join(broadcast(tomb),
                  col("cell") === col("t_cell") &&
                    col("vec_id") === col("t_id"), "left_anti")
                (live, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_append_nprobe") {
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c, SimilarityQueries.ivfpqProbeTablesFrozenNprobe(
                  spark, dir, cellsT, cbT, SimilarityQueries.AppendNprobe))
              }
              else if (name == "sim_ivfpq_compact_topk") {
                // The compacted generation IS the live set — no anti
                // anywhere; the probed-cell mass bound is the gc
                // table's own.
                val (_, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (SimilarityQueries.ivfpqCompactedCodes(spark, dir),
                  SimilarityQueries.ivfpqProbeTablesFrozen(
                    spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_cell_split") {
                val (c2, cells2) = SimilarityQueries.ivfpqSplitTables(spark, dir)
                val (_, _, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c2, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cells2, cbT))
              }
              else SimilarityQueries.ivfpqIndexNprobe(spark, dir, 1)
            val (cRdd, codesSnap) = Sessions.snapshot(codes)
            val (tRdd, tabSnap) = Sessions.snapshot(scanTab)
            val nVec = codesSnap.count() / 8 // materializes the snapshot
            tabSnap.count()
            val work = Metrics.measure(spark) {
              SimilarityQueries.ivfpqScan(codesSnap, tabSnap)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            // Expected scan mass from the routed cells themselves:
            // 8 code rows per candidate in each probe's routed cell,
            // minus the probe's own rows when it lives in that cell.
            // Cell sizes and probe membership come from the CODES frame
            // (8 rows per vector), so the computation is identical for
            // label cells and trained (k-means) cells.
            val sizes = codesSnap.groupBy(col("cell")).agg(count(lit(1)).as("c8"))
              .collect().map(r => r.get(0).toString -> r.getLong(1) / 8).toMap
            val probeCell = codesSnap.filter(col("vec_id") < 5)
              .select(col("vec_id"), col("cell")).distinct().collect()
              .map(r => r.getLong(0) -> r.get(1).toString).toMap
            val routed = tabSnap.select(col("probe_id"), col("pcell")).distinct()
              .collect().map(r => (r.getLong(0), r.get(1).toString))
            // probeCell.get: a DELETED probe (the delete entry's vec 4)
            // owns no live codes, so it subtracts nothing anywhere.
            val expected = routed.map { case (p, c) =>
              8L * (sizes.getOrElse(c, 0L) -
                (if (probeCell.get(p).contains(c)) 1L else 0L)) }.sum
            // Denominator = what the UNROUTED scan pays: 8 lookups per
            // (probe, candidate) pair — per PROBE, not per routed cell,
            // so the nprobe = 2 entry is honestly compared against one
            // full scan, not two.
            val fullEquiv = 8L * routed.map(_._1).distinct.length * (nVec - 1)
            cRdd.unpersist(blocking = false)
            tRdd.unpersist(blocking = false)
            (work.joinOutputRows, expected, fullEquiv)
          }
          val (scan1, exp1, full1) = scanProbe(dir1, cpus.toInt)
          val (scanN, expN, fullN) = scanProbe(dirN, partsN)
          // The 10× smoke run measured scan == expected EXACTLY at both
          // arms (the join is deterministic and the metric counts its
          // output rows); 1.25× is headroom for metric semantics only.
          val scanOk = 4 * scan1 <= 5 * exp1 && 4 * scanN <= 5 * expN &&
            2 * scanN <= fullN
          entryExtraOk = entryExtraOk && scanOk
          extra ++= s""""scan_joinrows_1x":$scan1,"scan_expected_1x":$exp1,"""
          extra ++= s""""scan_joinrows_${factor}x":$scanN,"scan_expected_${factor}x":$expN,"""
          extra ++= s""""scan_fullscan_equiv_${factor}x":$fullN,"""
          extra ++= s""""gate_scan_cell_bounded":$scanOk,"""
          extra ++= s""""scan_gate":"isolated_scan_joinrows<=2x_probed_cell_mass_and<=half_full_scan","""
        }
        // round 14: the re-rank refine stage in isolation — snapshot the
        // ADC shortlist, measure ONLY the exact re-score, and pin its
        // join output CONSTANT across arms: two equi joins (fetch-by-id
        // + probe vectors) over a ≤ |probes|·R-row build side produce
        // exactly 2·|shortlist| rows at ANY corpus size. A regression
        // that lets the refine touch corpus-many raw vectors (e.g. the
        // rank filter slipping above the join) blows the constant bound
        // by the corpus factor.
        if (name == "sim_ivfpq_rerank_topk" ||
            name == "sim_ivfpq_full_trained_topk" ||
            name == "sim_ivfpq_full_clustered_topk" ||
            name == "sim_ivfpq_append" ||
            name == "sim_ivfpq_delete_topk" ||
            name == "sim_ivfpq_append_nprobe" ||
            name == "sim_ivfpq_compact_topk" ||
            name == "sim_ivfpq_cell_split") {
          def refineProbe(dir: String, parts: Int): (Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (codes, scanTab) =
              if (name == "sim_ivfpq_full_trained_topk")
                SimilarityQueries.ivfpqTrainAll(spark,
                  graft.sources.Tables.embeddings(spark, dir)) match {
                  case (_, _, c, t) => (c, t) }
              else if (name == "sim_ivfpq_full_clustered_topk")
                (SimilarityQueries.ivfpqFullPersisted(spark, dir)._1,
                  SimilarityQueries.ivfpqTrainAll(spark,
                    graft.sources.Tables.embeddings(spark, dir))._4)
              else if (name == "sim_ivfpq_append") {
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_delete_topk") {
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                val tomb = SimilarityQueries.ivfpqTombstones(spark, dir)
                  .select(col("vec_id").as("t_id"), col("cell").as("t_cell"))
                val live = c.join(broadcast(tomb),
                  col("cell") === col("t_cell") &&
                    col("vec_id") === col("t_id"), "left_anti")
                (live, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_append_nprobe") {
                val (c, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c, SimilarityQueries.ivfpqProbeTablesFrozenNprobe(
                  spark, dir, cellsT, cbT, SimilarityQueries.AppendNprobe))
              }
              else if (name == "sim_ivfpq_compact_topk") {
                val (_, cellsT, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (SimilarityQueries.ivfpqCompactedCodes(spark, dir),
                  SimilarityQueries.ivfpqProbeTablesFrozen(
                    spark, dir, cellsT, cbT))
              }
              else if (name == "sim_ivfpq_cell_split") {
                val (c2, cells2) = SimilarityQueries.ivfpqSplitTables(spark, dir)
                val (_, _, cbT) =
                  SimilarityQueries.ivfpqAppendPersisted(spark, dir)
                (c2, SimilarityQueries.ivfpqProbeTablesFrozen(
                  spark, dir, cells2, cbT))
              }
              else SimilarityQueries.ivfpqIndexNprobe(spark, dir, 1)
            val (sRdd, shortSnap) = Sessions.snapshot(
              SimilarityQueries.ivfpqCandidates(codes, scanTab,
                SimilarityQueries.RerankShortlist))
            val nShort = shortSnap.count() // materializes the snapshot
            val work = Metrics.measure(spark) {
              SimilarityQueries.rerankRefine(spark, dir, shortSnap)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            sRdd.unpersist(blocking = false)
            (work.joinOutputRows, nShort)
          }
          val (ref1, n1) = refineProbe(dir1, cpus.toInt)
          val (refN, nN) = refineProbe(dirN, partsN)
          val bound = 2L * 5 * SimilarityQueries.RerankShortlist
          val refineOk = ref1 == 2 * n1 && refN == 2 * nN &&
            refN <= bound && refN == ref1
          entryExtraOk = entryExtraOk && refineOk
          extra ++= s""""refine_joinrows_1x":$ref1,"shortlist_1x":$n1,"""
          extra ++= s""""refine_joinrows_${factor}x":$refN,"shortlist_${factor}x":$nN,"""
          extra ++= s""""refine_bound":$bound,"gate_refine_constant":$refineOk,"""
          extra ++= s""""refine_gate":"isolated_refine_joinrows==2x_shortlist_constant_across_arms","""
        }
        // round 17 (r16 verdict #1 done-criterion): ADMISSION in
        // isolation — the cost of admitting a delta batch into the
        // already-built index must be ∝ |delta|, never ∝ |corpus|.
        // With the artifacts pre-ensured (fixture setup), the measured
        // job is exactly the day-1 admission: encode the delta through
        // the frozen catalog artifacts. Its join output decomposes
        // analytically in |delta| ALONE — 8 rows/vector in the routing
        // cross (≤ 8 persisted cells), 1 in the centroid equi join,
        // 8·4 in the codebook equi join = 41·|delta| — so the gate is
        // joinrows ≤ 2× that bound at BOTH arms (a retrain regression
        // re-enters the corpus-scale Lloyd chain and blows it by
        // |corpus|/|delta| ≈ 10×); shuffle records (the two packed-min
        // aggregates' map-side-combined partials, ≤ 9·|delta|) get the
        // same |delta|-only form with a per-partition partial allowance.
        if (name == "sim_ivfpq_append") {
          def admitProbe(dir: String, parts: Int): (Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (_, cellsT, cbT) =
              SimilarityQueries.ivfpqAppendPersisted(spark, dir)
            val delta = SimilarityQueries.appendDelta(
              graft.sources.Tables.embeddings(spark, dir))
            val nDelta = delta.count()
            val work = Metrics.measure(spark) {
              SimilarityQueries.ivfpqEncodeFrozenQ(
                graft.operators.KMeans.quantize(delta), cellsT, cbT)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            Sessions.releaseSnapshots()
            (work.joinOutputRows, work.shuffleRecordsRead, nDelta)
          }
          val (aj1, ar1, nd1) = admitProbe(dir1, cpus.toInt)
          val (ajN, arN, ndN) = admitProbe(dirN, partsN)
          val joinBound1 = 2L * 41L * nd1
          val joinBoundN = 2L * 41L * ndN
          val recBound1 = 2L * 9L * nd1 + 10L * cpus.toInt
          val recBoundN = 2L * 9L * ndN + 10L * partsN
          val admitOk = aj1 <= joinBound1 && ajN <= joinBoundN &&
            ar1 <= recBound1 && arN <= recBoundN
          entryExtraOk = entryExtraOk && admitOk
          extra ++= s""""admit_delta_1x":$nd1,"admit_joinrows_1x":$aj1,"""
          extra ++= s""""admit_records_1x":$ar1,"""
          extra ++= s""""admit_delta_${factor}x":$ndN,"admit_joinrows_${factor}x":$ajN,"""
          extra ++= s""""admit_records_${factor}x":$arN,"""
          extra ++= s""""admit_join_bound_${factor}x":$joinBoundN,"""
          extra ++= s""""admit_rec_bound_${factor}x":$recBoundN,"""
          extra ++= s""""gate_admission_delta_bounded":$admitOk,"""
          extra ++= s""""admission_gate":"isolated_delta_encode_joinrows<=2x41x|delta|_and_records<=2x9x|delta|+partials_both_arms","""
        }
        // round 18 (r17 verdict #1 done-criterion): DELETE-side work in
        // isolation — the cost of removing a deletion set from the
        // served index must be ∝ |deleted|, never ∝ |corpus|. The
        // measured job is the tombstone build: route the deleted
        // vectors through the frozen cell centroids (the training's own
        // assign — one |deleted|×(≤ 8 cells) bounded cross = 8·|deleted|
        // join rows, one packed-min aggregate ≤ |deleted| shuffle rows
        // with a per-partition partial allowance). A regression that
        // rebuilds instead (re-encoding the survivors) re-enters the
        // corpus-scale chain and blows the bound by |corpus|/|deleted|
        // ≈ 10×.
        if (name == "sim_ivfpq_delete_topk") {
          def tombProbe(dir: String, parts: Int): (Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (_, cellsT, _) =
              SimilarityQueries.ivfpqAppendPersisted(spark, dir)
            val del = SimilarityQueries.deleteSet(
              graft.sources.Tables.embeddings(spark, dir))
            val nDel = del.count()
            import graft.operators.KMeans
            val work = Metrics.measure(spark) {
              KMeans.assign(KMeans.quantize(del), cellsT)
                .select(col("vec_id"), col("cluster").as("cell"))
                .write.mode("overwrite").format("noop").save()
            }._2.work
            Sessions.releaseSnapshots()
            (work.joinOutputRows, work.shuffleRecordsRead, nDel)
          }
          val (tj1, tr1, td1) = tombProbe(dir1, cpus.toInt)
          val (tjN, trN, tdN) = tombProbe(dirN, partsN)
          val tjBound1 = 2L * 8L * td1
          val tjBoundN = 2L * 8L * tdN
          val trBound1 = 2L * td1 + 10L * cpus.toInt
          val trBoundN = 2L * tdN + 10L * partsN
          val tombOk = tj1 <= tjBound1 && tjN <= tjBoundN &&
            tr1 <= trBound1 && trN <= trBoundN
          entryExtraOk = entryExtraOk && tombOk
          extra ++= s""""tomb_deleted_1x":$td1,"tomb_joinrows_1x":$tj1,"""
          extra ++= s""""tomb_records_1x":$tr1,"""
          extra ++= s""""tomb_deleted_${factor}x":$tdN,"tomb_joinrows_${factor}x":$tjN,"""
          extra ++= s""""tomb_records_${factor}x":$trN,"""
          extra ++= s""""tomb_join_bound_${factor}x":$tjBoundN,"""
          extra ++= s""""tomb_rec_bound_${factor}x":$trBoundN,"""
          extra ++= s""""gate_delete_deleted_bounded":$tombOk,"""
          extra ++= s""""delete_gate":"isolated_tombstone_build_joinrows<=2x8x|deleted|_and_records<=2x|deleted|+partials_both_arms","""
        }
        // round 18 (r17 verdict #3): the balance audit's join output is
        // the ≤ |cells|-row totals cross — CONSTANT across arms (cells
        // come from the frozen k = 8 seeds, not the corpus size).
        if (name == "sim_ivfpq_cell_stats") {
          val statsConst = k1.joinOutputRows == kN.joinOutputRows &&
            kN.joinOutputRows <= 16L
          entryExtraOk = entryExtraOk && statsConst
          extra ++= s""""gate_cellstats_constant":$statsConst,"""
          extra ++= s""""cellstats_gate":"joinrows_constant_<=|cells|_across_arms","""
        }
        // round 18: the gc audit's join output is the ≤ |cells|-row
        // stored⟕tombstone-counts broadcast join — CONSTANT across arms
        // (the cell_stats posture with one more bounded join).
        if (name == "sim_ivfpq_gc_stats") {
          val gcConst = k1.joinOutputRows == kN.joinOutputRows &&
            kN.joinOutputRows <= 16L
          entryExtraOk = entryExtraOk && gcConst
          extra ++= s""""gate_gcstats_constant":$gcConst,"""
          extra ++= s""""gcstats_gate":"joinrows_constant_<=|cells|_across_arms","""
        }
        // round 18: COMPACTION in isolation — the reclaim job (the
        // dynamic-partition-overwrite's input frame) must cost the
        // TOUCHED cells' mass, never more than the corpus and never the
        // quadratic anti-join a naive implementation pays. Join output
        // decomposes exactly: 8·M_t from the touched-cells semi +
        // 8·(M_t − D) from the tombstone anti = 16·M_t − 8·D (M_t =
        // vectors in tombstoned cells, D = |deleted|); shuffle records
        // are the tombstone-distinct's ≤ D rows plus partials. On this
        // uniform fixture the deletion residue touches every cell, so
        // M_t = n — the file-level locality (untouched partitions never
        // rewritten) is IvfpqMaintenanceSpec's dynamic-overwrite pin.
        if (name == "sim_ivfpq_compact_topk") {
          def reclaimProbe(dir: String, parts: Int): (Long, Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (codes, _, _) =
              SimilarityQueries.ivfpqAppendPersisted(spark, dir)
            val tomb = SimilarityQueries.ivfpqTombstones(spark, dir)
            val nDel = tomb.count()
            val touched = tomb.select(col("cell").as("tc")).distinct()
            val mt = codes.filter(col("m") === 0L)
              .join(broadcast(touched), col("cell") === col("tc"), "left_semi")
              .count()
            val work = Metrics.measure(spark) {
              SimilarityQueries.ivfpqCompactLive(spark, dir)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            Sessions.releaseSnapshots()
            (work.joinOutputRows, work.shuffleRecordsRead, mt, nDel)
          }
          val (cj1, cr1, mt1, d1) = reclaimProbe(dir1, cpus.toInt)
          val (cjN, crN, mtN, dN) = reclaimProbe(dirN, partsN)
          val cjExp1 = 16L * mt1 - 8L * d1
          val cjExpN = 16L * mtN - 8L * dN
          val crBound1 = 2L * d1 + 10L * cpus.toInt
          val crBoundN = 2L * dN + 10L * partsN
          val reclaimOk = cj1 <= 2L * cjExp1 && cjN <= 2L * cjExpN &&
            cr1 <= crBound1 && crN <= crBoundN
          entryExtraOk = entryExtraOk && reclaimOk
          extra ++= s""""reclaim_touched_mass_1x":$mt1,"reclaim_deleted_1x":$d1,"""
          extra ++= s""""reclaim_joinrows_1x":$cj1,"reclaim_expected_1x":$cjExp1,"""
          extra ++= s""""reclaim_records_1x":$cr1,"""
          extra ++= s""""reclaim_touched_mass_${factor}x":$mtN,"reclaim_deleted_${factor}x":$dN,"""
          extra ++= s""""reclaim_joinrows_${factor}x":$cjN,"reclaim_expected_${factor}x":$cjExpN,"""
          extra ++= s""""reclaim_records_${factor}x":$crN,"""
          extra ++= s""""gate_reclaim_touched_bounded":$reclaimOk,"""
          extra ++= s""""reclaim_gate":"isolated_reclaim_joinrows<=2x(16xMt-8xD)_and_records<=2xD+partials_both_arms","""
        }
        // round 18: the SPLIT in isolation — the measured job is the
        // member re-encode chain (2-means seeds/rounds + residual
        // re-encode through the frozen codebook). Its JOIN output is
        // |parent cell|-bounded exactly: the member semi (M) + the
        // member-vector fetch join (M — the reference's point-get
        // batch; with raw vectors cell-partitioned, the deployment
        // layout, this fetch prunes to the parent partition) + two
        // 2-means assign crosses (2M each) + the encode's child-assign
        // cross (2M), centroid join (M), and codebook join (32M) +
        // ≤ 16 rows of seed/children constants = 41·M + O(1). Shuffle
        // records carry the fetch's corpus-side sort-merge (≤ ~2·n
        // skinny rows — the one corpus-∝ term, the layout caveat above)
        // plus M-bounded aggregate partials.
        if (name == "sim_ivfpq_cell_split") {
          def splitProbe(dir: String, parts: Int): (Long, Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val (codes0, _, _) =
              SimilarityQueries.ivfpqAppendPersisted(spark, dir)
            val m = codes0.filter(col("m") === 0L)
              .groupBy(col("cell")).agg(count(lit(1)).as("n"))
              .agg(max(col("n"))).head.getLong(0)
            val n = codes0.count() / 8L
            val work = Metrics.measure(spark) {
              SimilarityQueries.ivfpqSplitBuild(spark, dir)._2
                .write.mode("overwrite").format("noop").save()
            }._2.work
            Sessions.releaseSnapshots()
            (work.joinOutputRows, work.shuffleRecordsRead, m, n)
          }
          val (sj1, sr1, m1, n1) = splitProbe(dir1, cpus.toInt)
          val (sjN, srN, mN, nN) = splitProbe(dirN, partsN)
          val sjBound1 = 2L * (41L * m1 + 16L)
          val sjBoundN = 2L * (41L * mN + 16L)
          val srBound1 = 2L * (2L * n1 + 12L * m1) + 10L * cpus.toInt
          val srBoundN = 2L * (2L * nN + 12L * mN) + 10L * partsN
          val splitOk = sj1 <= sjBound1 && sjN <= sjBoundN &&
            sr1 <= srBound1 && srN <= srBoundN
          entryExtraOk = entryExtraOk && splitOk
          extra ++= s""""split_members_1x":$m1,"split_joinrows_1x":$sj1,"""
          extra ++= s""""split_records_1x":$sr1,"""
          extra ++= s""""split_members_${factor}x":$mN,"split_joinrows_${factor}x":$sjN,"""
          extra ++= s""""split_records_${factor}x":$srN,"""
          extra ++= s""""split_join_bound_${factor}x":$sjBoundN,"""
          extra ++= s""""split_rec_bound_${factor}x":$srBoundN,"""
          extra ++= s""""gate_split_member_bounded":$splitOk,"""
          extra ++= s""""split_gate":"isolated_member_reencode_joinrows<=2x(41xM+16)_and_records<=2x(2n+12M)+partials_both_arms","""
        }
        // round 15 (r14 verdict #1): dedup_semdedup — the flat n×k
        // assignment cross join is GONE (two-level routing,
        // DedupQueries.semdedupRouted/semdedupAssignFrom: n·r to the
        // super seeds, then an EQUI join refining among the ≤ ~k/r
        // cells of the routed group), and the old structural n·k
        // accounting-identity gate is replaced by REAL per-level
        // bounds. Three custom arms over isolated stages:
        // (a) the level-2 refine join, measured against 2× the BALANCED
        //     n·⌈k/r⌉ + k·r bound — super-group skew past 2× FAILS
        //     (the join output is Σ_s n_s·k_s, a data property, not an
        //     identity);
        // (b) the within-cell candidate join (the quadratic-risk term
        //     the cells-∝-n dial bounds), gated ≤ 2× linear as before;
        // (c) qualifying pairs at the paper's τ = 0.95, now gated ≤ 2×
        //     linear TOO (r14 verdict #2: at τ = 0.95 the qualifying
        //     mass is the corpus's true near-dup rate — linear — not
        //     the τ = 0.3 isotropic ~n² tail that was context-only).
        // The whole-query joinrows gate sums ANALYTIC per-level bounds
        // (k·r + n·r + 2·n·⌈k/r⌉ + cand + n) — refine skew also fails
        // it, unlike r14's measured-n·k plug-in.
        if (name == "dedup_semdedup") {
          def pairProbe(dir: String, parts: Int,
                        k: Int): (Long, Long, Long, Long) = {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            val routed = Sessions.snapshot(
              DedupQueries.semdedupRouted(k)(spark, s"$dir/semdd"))._2
            routed.count() // materialize level 1
            val groups = DedupQueries.semdedupCellGroups(k)(spark, s"$dir/semdd")
            val workA = Metrics.measure(spark) {
              DedupQueries.semdedupAssignFrom(routed, groups, k)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            val asn = Sessions.snapshot(
              DedupQueries.semdedupAssignFrom(routed, groups, k))._2
            val nVec = asn.count() // materializes the assigned snapshot
            val workC = Metrics.measure(spark) {
              DedupQueries.semdedupCandidates(asn)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            val workQ = Metrics.measure(spark) {
              DedupQueries.semdedupLosers(asn)
                .write.mode("overwrite").format("noop").save()
            }._2.work
            Sessions.releaseSnapshots()
            (workA.joinOutputRows, workC.joinOutputRows,
              workQ.joinOutputRows, nVec)
          }
          val k1c = DedupQueries.SemdedupCells
          val kNc = DedupQueries.SemdedupCells * factor
          val r1c = DedupQueries.semdedupSupers(k1c)
          val rNc = DedupQueries.semdedupSupers(kNc)
          val (ref1, cand1, qual1, n1) = pairProbe(dir1, cpus.toInt, k1c)
          val (refN, candN, qualN, nN) = pairProbe(dirN, partsN, kNc)
          // (a) level-2 refine: measured Σ_s n_s·k_s vs the balanced
          // bound (+ the k×r level-0 cross inside the same job).
          def refBound(n: Long, k: Int, r: Int): Long =
            2L * (n * ((k + r - 1) / r) + k.toLong * r)
          val refineOk = ref1 <= refBound(n1, k1c, r1c) &&
            refN <= refBound(nN, kNc, rNc)
          // (b) candidate mass ≤ 2× linear under the cells dial.
          val candOk = candN <= 2L * factor * math.max(cand1, 10000L)
          // (c) qualifying pairs ≤ 2× linear at τ = 0.95 (floor 1000:
          // the isotropic fixture has ~zero true near-dups, so the
          // gate's teeth are "stays ~zero", not a ratio on noise).
          val qualOk = qualN <= 2L * factor * math.max(qual1, 1000L)
          // Whole-query joinrows vs the analytic per-level sum.
          def expect(n: Long, k: Int, r: Int, cand: Long): Long =
            k.toLong * r + n * r + 2L * n * ((k + r - 1) / r) + cand + n
          val expect1 = expect(n1, k1c, r1c, cand1)
          val expectN = expect(nN, kNc, rNc, candN)
          joinOk = k1.joinOutputRows <= 2L * expect1 &&
            kN.joinOutputRows <= 2L * expectN
          customJoinGate = true
          entryExtraOk = entryExtraOk && refineOk && candOk && qualOk
          extra ++= s""""cells_1x":$k1c,"cells_${factor}x":$kNc,"""
          extra ++= s""""supers_1x":$r1c,"supers_${factor}x":$rNc,"""
          extra ++= s""""refine_joinrows_1x":$ref1,"refine_bound_1x":${refBound(n1, k1c, r1c)},"""
          extra ++= s""""refine_joinrows_${factor}x":$refN,"refine_bound_${factor}x":${refBound(nN, kNc, rNc)},"""
          extra ++= s""""gate_refine_balanced":$refineOk,"""
          extra ++= s""""refine_gate":"isolated_level2_joinrows<=2x_(n_ceil(k_over_r)+k_r)_balance","""
          extra ++= s""""cand_joinrows_1x":$cand1,"cand_joinrows_${factor}x":$candN,"""
          extra ++= s""""gate_cand_linear":$candOk,"""
          extra ++= s""""cand_gate":"isolated_candidate_joinrows<=2x_linear","""
          extra ++= s""""qual_pairs_1x":$qual1,"qual_pairs_${factor}x":$qualN,"""
          extra ++= s""""gate_qual_linear":$qualOk,"""
          extra ++= s""""qual_gate":"qualifying_pairs<=2x_linear_at_paper_tau","""
          extra ++= s""""join_expected_1x":$expect1,"join_expected_${factor}x":$expectN,"""
          extra ++= s""""joinrows_gate":"joinrows<=2x_(k_r+n_r+2n_ceil(k_over_r)+cand+n)_analytic","""
        }
        // round 14 (r13 verdict #4): kmeans_lloyd normalizes by MEASURED
        // rounds — every round re-scans the corpus once (assign+update
        // collapsed into the round's one action), so records/joinrows
        // are rounds × O(n); rounds grow ~log₂ chain extent on this
        // fixture (the planted property), bounded additively like the
        // CC entry. Plan pin: exactly ONE bounded broadcast cross join
        // per round (the ≤ k-row centroid table), no Cartesian, and the
        // loop must actually CONVERGE at both arms (an exit-on-cap would
        // silently cap the normalizer).
        if (name == "pagerank_iterate" && prRounds1 > 0 && prRoundsN > 0) {
          val roundScale = prRoundsN.toDouble / prRounds1
          recOk = kN.shuffleRecordsRead.toDouble <=
            2.0 * factor * roundScale * math.max(k1.shuffleRecordsRead, 10000L)
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * factor * roundScale * math.max(k1.joinOutputRows, 10000L)
          customRecGate = true
          customJoinGate = true
          // The contraction bound: rounds-to-tol depend on damping and
          // tol only; +2 absorbs integer-floor wobble near the fixpoint.
          val roundsOk = prRoundsN <= prRounds1 + 2
          entryExtraOk = entryExtraOk && roundsOk && prConv1 && prConvN
          extra ++= s""""rounds_1x":$prRounds1,"rounds_${factor}x":$prRoundsN,"""
          extra ++= s""""converged_1x":$prConv1,"converged_${factor}x":$prConvN,"""
          extra ++= s""""gate_rounds":$roundsOk,"""
          extra ++= s""""records_gate":"records<=2x_linear_per_round","""
          extra ++= s""""joinrows_gate":"joinrows<=2x_linear_per_round","""
        }
        // round 16: the BPE trainer loop — rounds must hit the full
        // target at BOTH arms (the salted corpora keep ≥ minCount pair
        // mass at every rung; an early stop would shrink the
        // normalizer), and records/joinrows normalize by them.
        if (name == "bpe_train_loop" && bpeRounds1 > 0 && bpeRoundsN > 0) {
          val roundScale = bpeRoundsN.toDouble / bpeRounds1
          recOk = kN.shuffleRecordsRead.toDouble <=
            2.0 * factor * roundScale * math.max(k1.shuffleRecordsRead, 10000L)
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * factor * roundScale * math.max(k1.joinOutputRows, 10000L)
          customRecGate = true
          customJoinGate = true
          val target = graft.queries.TextQueries.BpeMerges
          val roundsOk = bpeRounds1 == target && bpeRoundsN == target
          entryExtraOk = entryExtraOk && roundsOk
          extra ++= s""""rounds_1x":$bpeRounds1,"rounds_${factor}x":$bpeRoundsN,"""
          extra ++= s""""target_merges":$target,"gate_rounds":$roundsOk,"""
          extra ++= s""""records_gate":"records<=2x_linear_per_round","""
          extra ++= s""""joinrows_gate":"joinrows<=2x_linear_per_round","""
        }
        // round 16: the LPA termination loop — the pagerank_iterate
        // posture: records/joinrows normalize by measured rounds, rounds
        // FLAT across arms (disjoint identical copies → identical
        // per-copy community trajectories), and both arms must TERMINATE
        // on a detected condition (fixpoint or 2-cycle), never the cap.
        if (name == "lpa_iterate" && lpaRounds1 > 0 && lpaRoundsN > 0) {
          val roundScale = lpaRoundsN.toDouble / lpaRounds1
          recOk = kN.shuffleRecordsRead.toDouble <=
            2.0 * factor * roundScale * math.max(k1.shuffleRecordsRead, 10000L)
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * factor * roundScale * math.max(k1.joinOutputRows, 10000L)
          customRecGate = true
          customJoinGate = true
          val roundsOk = lpaRoundsN <= lpaRounds1 + 2
          entryExtraOk = entryExtraOk && roundsOk && lpaTerm1 && lpaTermN
          extra ++= s""""rounds_1x":$lpaRounds1,"rounds_${factor}x":$lpaRoundsN,"""
          extra ++= s""""terminated_1x":$lpaTerm1,"terminated_${factor}x":$lpaTermN,"""
          extra ++= s""""gate_rounds":$roundsOk,"""
          extra ++= s""""records_gate":"records<=2x_linear_per_round","""
          extra ++= s""""joinrows_gate":"joinrows<=2x_linear_per_round","""
        }
        if (name == "kmeans_lloyd" && kmRounds1 > 0 && kmRoundsN > 0) {
          val roundScale = kmRoundsN.toDouble / kmRounds1
          recOk = kN.shuffleRecordsRead.toDouble <=
            2.0 * factor * roundScale * math.max(k1.shuffleRecordsRead, 10000L)
          joinOk = kN.joinOutputRows.toDouble <=
            2.0 * factor * roundScale * math.max(k1.joinOutputRows, 10000L)
          customRecGate = true
          customJoinGate = true
          val roundsOk = kmRoundsN <=
            kmRounds1 + math.ceil(math.log(factor) / math.log(2)).toInt + 2
          val b1 = Metrics.nestedLoopCount(plans1)
          val bN = Metrics.nestedLoopCount(plansN)
          planSane = !Metrics.hasCartesian(plans1) &&
            !Metrics.hasCartesian(plansN) &&
            b1 == kmRounds1 && bN == kmRoundsN
          entryExtraOk = entryExtraOk && roundsOk && kmConv1 && kmConvN
          extra ++= s""""rounds_1x":$kmRounds1,"rounds_${factor}x":$kmRoundsN,"""
          extra ++= s""""converged_1x":$kmConv1,"converged_${factor}x":$kmConvN,"""
          extra ++= s""""bnlj_1x":$b1,"bnlj_${factor}x":$bN,"""
          extra ++= s""""gate_rounds":$roundsOk,"""
          extra ++= s""""records_gate":"records<=2x_linear_per_round","""
          extra ++= s""""joinrows_gate":"joinrows<=2x_linear_per_round","""
          extra ++= s""""plan_sane_gate":"no_cartesian_and_one_bounded_cross_per_round","""
        }
        // Floor-admission flag (round-6 ADVICE): true when the pass rode
        // the 10k-record floor rather than 2×-linear growth of the
        // query's own 1× baseline.
        val floorAdmitted =
          (!customRecGate && recOk &&
            kN.shuffleRecordsRead > 2L * factor * k1.shuffleRecordsRead) ||
          (!customJoinGate && joinOk &&
            kN.joinOutputRows > 2L * factor * k1.joinOutputRows)
        // Factor-aware: a LINEAR operator's spill grows ~factor× once the
        // data outgrows executor memory, so the bound is 2.5× linear (the
        // same headroom ScaleProbeSpec's 25× gives factor 10), with a
        // 64 MB floor so a zero-spill 1× baseline can't make any 100×
        // spill a failure. A spill-bound quadratic overshoots this by
        // ~factor×.
        val spillOk = kN.diskSpilledBytes <=
          (5L * factor / 2) * math.max(k1.diskSpilledBytes, 64L * 1024 * 1024)
        val pass = recOk && joinOk && spillOk && planSane && entryExtraOk
        allPass &= pass
        println(f"[volprobe] $name: 1x shufrec=${k1.shuffleRecordsRead} " +
          f"${factor}x shufrec=${kN.shuffleRecordsRead} (ratio $recRatio%.1f, " +
          f"linear=$factor) joinrows=${k1.joinOutputRows}→${kN.joinOutputRows} " +
          f"(ratio $joinRatio%.1f) spill=${kN.diskSpilledBytes / 1e6}%.0f MB " +
          f"planSane=$planSane floorAdmitted=$floorAdmitted pass=$pass " +
          f"[context: wall $w1%.2f→$wN%.2f s, cpu ${k1.cpuSec}%.2f→${kN.cpuSec}%.2f s]")
        s"${Jsons.q(name)}:{" + extra.toString +
          s""""shufrec_1x":${k1.shuffleRecordsRead},"shufrec_${factor}x":${kN.shuffleRecordsRead},""" +
          f""""shufrec_ratio":$recRatio%.2f,""" +
          s""""joinrows_1x":${k1.joinOutputRows},"joinrows_${factor}x":${kN.joinOutputRows},""" +
          f""""joinrows_ratio":$joinRatio%.2f,"spill_1x":${k1.diskSpilledBytes},""" +
          s""""spill_${factor}x":${kN.diskSpilledBytes},"plan_sane":$planSane,""" +
          f""""wall_1x":$w1%.3f,"wall_${factor}x":$wN%.3f,""" +
          f""""cpu_1x":${k1.cpuSec}%.3f,"cpu_${factor}x":${kN.cpuSec}%.3f,""" +
          s""""gate_records":$recOk,"gate_joinrows":$joinOk,"gate_spill":$spillOk,""" +
          s""""floor_admitted":$floorAdmitted,""" +
          s""""metrics_incomplete":${k1.incomplete || kN.incomplete},"pass":$pass}"""
      }
      val json = s"""{"probe":"volume","factor":$factor,"sf":${Jsons.q(sf)},""" +
        s""""gate":"shuffle_records<=2x_linear AND join_output_rows<=2x_linear AND spill_bounded AND plan_sane",""" +
        s""""timing_is_context_only":true,""" +
        s""""queries":{${results.mkString(",")}},"all_pass":$allPass}"""
      Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(json)
      if (!allPass) exitCode = 1
    } finally {
      LocalFiles.rmTree(dir1)
      LocalFiles.rmTree(dirN)
      spark.stop()
    }
    if (exitCode != 0) sys.exit(exitCode)
  }
}
