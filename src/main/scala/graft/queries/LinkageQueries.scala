package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Sessions

import graft.sources.Tables

/** Corpus linkage & structure: approximate string matching, posting-list
  * construction, and co-occurrence graph analytics — three operator
  * classes a large-scale curation pipeline needs beyond containment
  * dedup (entity resolution across catalogs, retrieval-index builds,
  * basket/citation graph structure).
  *
  * All three follow the engine's blocking discipline (the same idea as
  * the reference's hash-addressed bucket placement,
  * /root/reference/src/dist_hash_map.h get_target_dist): never an
  * all-pairs anything — candidate generation is an equi-join on a
  * blocking key with an explicit hot-block cap, exactly the LSH family's
  * defense in [[DedupQueries]].
  */
object LinkageQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Blocks larger than this are skipped by the fuzzy join (the
    * hot-bucket cap precedent from dedup_minhash_capped): a degenerate
    * blocking key must degrade recall, never blow up the self-join. */
  private[graft] val MaxBlock = 1000L

  /** Edit-distance threshold for a fuzzy name match. */
  private[graft] val MaxEdit = 3

  /** Orders with more than this many distinct items are excluded from
    * the co-order graph — bounds the per-order pair fan-out at
    * C(cap, 2) regardless of corpus scale (a single pathological
    * 10⁶-item order would otherwise emit 5·10¹¹ pairs). */
  private[graft] val MaxOrderItems = 12L

  /** Minimum co-occurrence support for a co-order edge. The support
    * threshold is what keeps the graph sparse as the corpus grows:
    * noise pairs (one shared order) dominate the raw pair set but
    * carry no basket signal. */
  private[graft] val MinSupport = 2L

  /** Posting-list shard width (= 1 << [[PostingShardBits]]): one output
    * row holds at most this many doc ids, so row width is bounded by
    * construction at any corpus size (a planet-scale term like "the"
    * becomes many bounded rows, never one unbounded array). A power of
    * two so the shard assignment is `shiftright(doc_id, bits)` — exact
    * FLOOR division for every long including negatives. NB: DuckDB's
    * integer `//` TRUNCATES toward zero (measured: −7 // 2 = −3), so
    * the oracle spells the floor out as (x − pmod(x, w)) // w — exactly
    * divisible, where truncation and floor agree for any sign. */
  private[graft] val PostingShardBits = 8
  private[graft] val PostingShard = 1L << PostingShardBits

  /** Blocked fuzzy (approximate-string) self-join over part names —
    * entity resolution for near-identical catalog entries. Names dedupe
    * to a vocabulary first (corpus → distinct strings + multiplicity:
    * at 100 TB the vocabulary is orders of magnitude smaller than the
    * row count, and the expensive edit-distance never touches raw
    * rows). Candidates come from an equi-join on a blocking key (last
    * token), oversized blocks are skipped ([[MaxBlock]]), and the
    * in-block comparison uses the banded `levenshtein(a, b, threshold)`
    * form — O(len·k) per pair with early exit, not O(len²). Output is
    * the matched pairs with their edit distance and how many raw rows
    * each name represents.
    *
    * In production the blocking key would be a cheap canonical form
    * (phonetic code, sorted token prefix, length bucket) or several in
    * union — the plan shape (dedupe → block → equi-join → banded
    * verify) is identical for any choice.
    */
  val textFuzzyJoinBlocked: Q = (s, d) => textFuzzyJoinBlockedCapped(MaxBlock)(s, d)

  /** [[textFuzzyJoinBlocked]] with an explicit block cap — the spec dial
    * (same pattern as the dedup family's capped variants): LinkageSpec
    * pins that an over-cap block is skipped wholesale, not partially
    * joined. Single-key instance of [[textFuzzyJoinKeyed]]. */
  private[graft] def textFuzzyJoinBlockedCapped(cap: Long): Q =
    textFuzzyJoinKeyed(cap, Seq("L" -> (n => element_at(split(n, " "), -1))))

  /** The generalized blocked fuzzy join: candidates are the UNION of the
    * blocked self-joins under each (tag, key) blocking function, deduped
    * on the name pair before output — the multi-key recall extension the
    * single-key scaladoc promises. A true pair is missed only if EVERY
    * key disagrees on it, so each added key multiplies candidate cost by
    * ~1 (same vocab, one more tagged stream) while the miss set shrinks
    * to the intersection. [[textFuzzyJoinMultiKey]] pairs the last-token
    * key with a first-token key; LinkageSpec quantifies the recall each
    * choice buys on planted pairs. Tags keep the per-key block spaces
    * disjoint, so one key's hot block cannot evict another's candidates.
    */
  private[graft] def textFuzzyJoinKeyed(
      cap: Long, keys: Seq[(String, Column => Column)]): Q = (s, d) => {
    val names = Tables.part(s, d)
      .groupBy("p_name").agg(count(lit(1)).as("cnt"))
    // names is read 2·|keys|+1 times (block sizing + join sides) — one
    // bounded snapshot (vocabulary-sized) instead of that many corpus
    // scans.
    val snap = Sessions.snapshot(names)._2
    val tagged = keys.map { case (tag, k) =>
        snap.withColumn("blk", concat_ws("#", lit(tag), k(col("p_name"))))
      }.reduce(_ unionByName _)
    val okBlocks = tagged.groupBy("blk")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= cap)
      .select("blk")
    // okBlocks is one row per distinct blocking key — vocabulary-scale,
    // which this operator assumes ≪ corpus but which still grows with
    // the name universe: no broadcast hint (the 100 TB rule,
    // BroadcastGuardSpec). The semi-filter join lands on the same blk
    // key the self-join below shuffles on anyway; AQE elects broadcast
    // whenever the block list is actually small.
    val vocab = tagged.join(okBlocks, "blk")
    val lv = levenshtein(col("name_a"), col("name_b"), MaxEdit + 1)
    val pairs = vocab.as("a").join(vocab.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
              col("a.cnt").as("cnt_a"), col("b.cnt").as("cnt_b"))
    // Multi-key: the same pair can surface under several keys — dedupe
    // BEFORE the edit-distance verify so each candidate is scored once.
    val uniq = if (keys.sizeIs > 1) pairs.distinct() else pairs
    uniq
      .withColumn("dist", lv.cast("long"))
      // banded form returns -1 beyond the threshold: keep 0..MaxEdit
      .filter(col("dist") >= 0L && col("dist") <= MaxEdit)
      .select(col("name_a"), col("name_b"), col("dist"),
              col("cnt_a"), col("cnt_b"))
      .orderBy("name_a", "name_b")
  }

  /** Two-key (last token ∪ first token) form of the fuzzy join — the
    * recall extension for name universes where edits hit the last token
    * (invisible to single last-token blocking). Declared as
    * `text_fuzzy_join_multikey` (round-11 verdict #4): on the planted
    * pairs it recovers 6/7 vs the single-key form's 4/7
    * (LinkageSpec) at ~the same candidate cost by construction — the
    * tagged block spaces are disjoint, so each key adds one
    * vocabulary-scale stream and one blocked self-join, never a cross
    * product, and the pair dedup before the verify scores each
    * candidate once. The single-key form stays declared as the
    * cheaper/lower-recall baseline. */
  val textFuzzyJoinMulti: Q = (s, d) => textFuzzyJoinMultiKey(MaxBlock)(s, d)

  private[graft] def textFuzzyJoinMultiKey(cap: Long): Q =
    textFuzzyJoinKeyed(cap, Seq(
      "L" -> (n => element_at(split(n, " "), -1)),
      "F" -> (n => element_at(split(n, " "), 1))))

  /** Sharded inverted index (term → bounded posting lists) over the
    * document corpus — the retrieval-side artifact a decontamination or
    * attribution pass queries. (term, doc_id) pairs distinct first (df
    * semantics, not tf), then group by (term, shard) where shard =
    * doc_id div [[PostingShard]]: every posting row is ≤ 256 ids no
    * matter how common the term, so the collect_list is bounded by
    * construction — the unbounded-array failure mode of a naive
    * `groupBy(term)` index build cannot occur at any scale. Postings
    * are sorted within the shard (sort_array — a per-row O(n log n)
    * over ≤ 256 elements, never a global sort) and emitted as a
    * comma-joined string: the declared surface carries the full posting
    * payload but stays a hashable scalar (a raw ARRAY column is the one
    * output shape the oracle compare cannot digest — round-10 verdict
    * #1; every sibling query reduces arrays to scalars for the same
    * reason). Shard assignment is an arithmetic shift (see
    * [[PostingShardBits]]) so both engines floor-divide identically for
    * any doc_id sign.
    *
    * Built over [[graft.queries.TextQueries.termDocTf]] — the one
    * (term, doc_id, tf) collapse the BM25 query side also consumes
    * (round-11 verdict #6): the core's per-(term, doc) row set IS the
    * distinct this index needs, so index build and retrieval provably
    * share the tokenize + collapse lineage. */
  val textInvertedIndex: Q = (s, d) =>
    graft.queries.TextQueries.termDocTf(s, d)
      .groupBy(col("term"),
               shiftright(col("doc_id"), PostingShardBits).as("shard"))
      .agg(count(lit(1)).as("df_shard"),
           array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
      .orderBy("term", "shard")

  /** Distributed triangle counting over the co-order part graph —
    * basket-structure analytics (the triangle/clustering-coefficient
    * family). Pipeline: per-order distinct item sets, orders above
    * [[MaxOrderItems]] dropped (pair fan-out bound), weighted pair
    * aggregation with a [[MinSupport]] floor (sparsity bound), then the
    * classic degree-ordered orientation: every edge points from the
    * (degree, id)-smaller endpoint, so each triangle is counted exactly
    * once as a wedge at its smallest vertex closed by one equi-join —
    * and the wedge join's fan-out per vertex is bounded by the oriented
    * out-degree, O(√|E|) worst case instead of the max raw degree. No
    * OR-joins, no global window (orientation compares the (degree, id)
    * struct carried on the edge, not a rank relabeling). Output: the 20
    * most triangle-dense parts. */
  /** The support-thresholded co-order edge set both graph operators
    * ([[graphTriangleCount]], [[graphPagerank]]) run over — one shuffle
    * builds the per-order item sets: collect_set dedups within the order
    * (subsuming a separate distinct) and the size cap applies to the
    * collapsed set — the raw (o, p) rows shuffle once, by o, and never
    * again. Pair expansion is then a map-side array comprehension over
    * ≤ MaxOrderItems elements (bounded HOF — fine interpreted at
    * ≤ C(12,2) = 66 structs/order), which replaces the self-join shape:
    * no second corpus shuffle, no join whose output IS the pair
    * multiset, no multi-read snapshot of items. */
  private[graft] def coOrderPairs(s: SparkSession, d: String): DataFrame = {
    val baskets = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("arr"))
      .filter(size(col("arr")) <= MaxOrderItems)
    // Pair expansion as two chained Generates (posexplode anchor, explode
    // of the strict suffix) instead of one flatten(transform(transform))
    // expression: higher-order functions evaluate INTERPRETED inside an
    // otherwise codegen'd stage (boxed lambda calls + a zipped array
    // allocation per element), and this expansion was the pair stage's
    // dominant CPU (round-18 StageProfile: 2.1–3.0 executor-CPU-s at
    // sf0.1 for ~1.2 M pairs). Generate/slice are codegen'd; the pair
    // multiset is identical (arr is sorted-distinct, so suffix pairing
    // enumerates exactly the pa < pb combinations once each).
    baskets
      .select(col("arr"), posexplode(col("arr")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("arr"), col("i") + lit(2), size(col("arr")))).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= MinSupport)
      .select("pa", "pb")
  }

  val graphTriangleCount: Q = (s, d) => {
    val pairs = coOrderPairs(s, d)
    // pairs is the one lineage worth materializing (its input is the
    // corpus-sized basket expansion); everything downstream — degrees,
    // orientation, the wedge joins — recomputes from this
    // support-thresholded edge set, which is small by construction, so
    // the extra lineage re-runs are trivial shuffles and the query
    // avoids two more job barriers.
    val eSnap = Sessions.snapshot(pairs)._2
    val deg = eSnap.select(col("pa").as("p")).union(eSnap.select(col("pb").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    val withDeg = eSnap
      .join(deg.select(col("p").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("p").as("pb"), col("deg").as("db")), "pb")
    val aFirst = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
    val orient = withDeg.select(
      when(aFirst, col("pa")).otherwise(col("pb")).as("src"),
      when(aFirst, col("pb")).otherwise(col("pa")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dstd"))
    val wedges = orient.as("e1").join(orient.as("e2"),
      col("e1.src") === col("e2.src") &&
        struct(col("e1.dstd"), col("e1.dst")) < struct(col("e2.dstd"), col("e2.dst")))
    val tri = wedges.join(orient.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("p"))
      .groupBy("p").agg(count(lit(1)).as("tri_cnt"))
      .join(deg, "p")
      .select(col("p").as("p_partkey"), col("tri_cnt"), col("deg").as("degree"))
      .orderBy(desc("tri_cnt"), asc("p_partkey"))
      .limit(20)
  }

  /** PageRank iterations over the co-order graph. [[PrScale]] is the
    * micro-unit rank scale; damping is the classic 0.85 expressed as the
    * exact integer pair [[PrDampNum]]/[[PrDampDen]] so both engines
    * compute bit-identical BIGINT ranks (floating-point PageRank would
    * hash-diverge across engines at the 15th digit). */
  private[graft] val PrIters = 3
  private[graft] val PrScale = 1000000L
  private[graft] val PrDampNum = 85L
  private[graft] val PrDampDen = 100L
  /** (1 − d) · SCALE — exact: PrScale is divisible by PrDampDen. */
  private[graft] val PrTeleport = PrScale / PrDampDen * (PrDampDen - PrDampNum)

  /** PageRank (power iteration, [[PrIters]] rounds) over the co-order
    * part graph — "which parts sit at the center of the basket
    * structure", the authority analog of [[graphTriangleCount]]'s
    * density. Runs on the same support-thresholded edge set
    * ([[coOrderPairs]]); every node has degree ≥ 1 by construction (all
    * nodes come from edges, both directions present), so there is no
    * dangling-mass term. The update is the standard
    * r′(v) = (1−d)·S + d · Σ_{u∈N(v)} r(u)/deg(u), computed in EXACT
    * integer micro-units with explicit floors (the [[graft.functions
    * .ColFns.floorDiv]] doctrine: every `/` both engines must agree on
    * is an integer floor over non-negative operands, where DuckDB's
    * truncating `//` agrees) — the oracle unrolls the same three rounds
    * as straight-line CTEs, the emb_kmeans discipline.
    *
    * Scale shape: two snapshots — the pair set (its lineage is the
    * corpus-scale basket expansion) and the degree-enriched out-edge
    * table (the loop invariant) — then each round is ONE equi-join
    * (ranks ⋈ out-edges on the source key) and ONE hash aggregate (sum
    * of contributions by destination): shuffle volume is exactly the
    * 2·|E| directed edge stream per round, partial-aggregated map-side. Rank frames chain lazily round-over-round (each round's
    * frame is referenced exactly ONCE by the next, so the plan grows
    * linearly in rounds — no per-round snapshot action needed, unlike
    * the winner-reuse loops). No broadcast hints anywhere: at 100 TB the
    * rank table is graph-scale and must shuffle. Reference principle:
    * iterated mapreduce over a stored map,
    * /root/reference/src/dist_map.h:255-279. */
  val graphPagerank: Q = (s, d) => {
    val pairs = coOrderPairs(s, d)
    val (deg, oe) = graft.operators.PageRank.degrees(Sessions.snapshot(pairs)._2)
    // Out-edges enriched with the source degree, snapshotted ONCE — the
    // loop-invariant table (the KMeans/Components discipline): without
    // it every round re-runs the degree aggregate and its exchange over
    // the 2·|E| edge stream; with it each round is exactly one
    // ranks ⋈ out-edges join plus one destination aggregate.
    val outEdges = Sessions.snapshot(oe)._2
    var ranks = deg.select(col("p"), lit(PrScale).as("r"))
    for (_ <- 1 to PrIters)
      ranks = graft.operators.PageRank.rankRound(outEdges, ranks)
    ranks.join(deg, "p")
      .select(col("p").as("p_partkey"), col("r").as("pagerank"),
              col("deg").as("degree"))
      .orderBy(desc("pagerank"), asc("p_partkey"))
      .limit(20)
  }

  /** Synchronous label-propagation rounds — 2 suffices to pin the
    * mode-argmax update semantics cross-engine (the PrIters doctrine:
    * the round count is the declared-oracle dial, not a convergence
    * claim; LPA famously oscillates under full synchrony, which is WHY
    * the declared form is fixed-round). */
  private[graft] val LpaIters = 2

  /** Label propagation (Raghavan et al. 2007, "Near linear time
    * algorithm to detect community structures in large-scale networks")
    * over the co-order part graph — community detection, the third
    * graph operator: [[graphTriangleCount]] measures local density,
    * [[graphPagerank]] global authority, this one partition structure.
    * Every node starts labeled with itself; each round every node
    * adopts the MODE of its neighbors' labels (most frequent; ties to
    * the smallest label — the deterministic tiebreak both engines
    * express exactly, vs the paper's random tie coin). All-integer:
    * labels are part keys, votes are counts, no floating point
    * anywhere. Output is the community profile after [[LpaIters]]
    * rounds: label, member count, min/max member.
    *
    * Scale shape: identical plan class to [[graphPagerank]]'s round —
    * per round ONE equi-join (labels ⋈ out-edges on the source key) and
    * TWO hash aggregates ((dst, label) vote counts map-side-combined,
    * then the per-dst argmax — no window, no per-node sort). The argmax
    * is a PACKED max (the KMeans.assign doctrine): a
    * max(struct(cnt, −label)) buffer is not hash-aggregatable and
    * planned the GRAPH-scale vote stream through SortAggregates
    * (measured in the first PLANS.md dump — the exact round-12
    * emb_kmeans smell; golden_record's struct min is fine because its
    * input is vocabulary-scale). Unlike KMeans' k ≤ 16 cluster ids,
    * the label domain here is the FULL part-key space — a 2³²-bounded
    * long pack would exclude legitimate key universes (the 10× probe
    * fixture's offset copies sit past 2³² by design) — so the vote
    * packs into DECIMAL(38,0): cnt·2⁶⁴ + (2⁶⁴−1−label), exact for any
    * non-negative int64 label and any count below 2⁶⁰ (ANSI decimal
    * overflow RAISES past that — never a corrupted argmax), and
    * decimal max is a mutable-buffer hash aggregate. Max picks max
    * count then min label in one aggregate. Shuffle volume
    * per round is exactly the 2·|E| directed edge stream, the pagerank
    * measurement; labels chain lazily round-over-round (each frame
    * referenced once). Max count then MIN label is the reducer-library
    * min/max-composition idea (/root/reference/src/reducer.h:16-22 —
    * NB the reference's own min/max bodies have their comparisons
    * swapped, the documented bug graft.core.Reducers flags; the IDEA is
    * cited, not the implementation) applied to a lexicographic vote. */
  val graphLabelPropagation: Q = (s, d) => {
    // The vote round lives in [[graft.operators.Lpa.voteRound]] (with
    // the decimal-packing rationale in its scaladoc) — this declared
    // query is the ORACLE INSTANCE that pins its semantics
    // cross-engine; Lpa.iterate is the run-to-termination driver loop
    // over the very same block (round-15 verdict #4, the KMeans/
    // PageRank operator-pairing doctrine).
    val pairs = coOrderPairs(s, d)
    val eSnap = Sessions.snapshot(pairs)._2
    val edges = eSnap.select(col("pa").as("src"), col("pb").as("dst"))
      .union(eSnap.select(col("pb").as("src"), col("pa").as("dst")))
    var labels = edges.select(col("src").as("p")).distinct()
      .select(col("p"), col("p").as("lbl"))
    for (_ <- 1 to LpaIters)
      labels = graft.operators.Lpa.voteRound(edges, labels)
    labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"),
           min(col("p")).as("member_min"), max(col("p")).as("member_max"))
      .orderBy(desc("n_members"), asc("community"))
      .limit(20)
  }

  /** Entity-resolution clusters — the CLUSTER step of the classic ER
    * pipeline (block → match → cluster; Fellegi–Sunter lineage) that
    * [[textFuzzyJoinBlocked]]'s pairwise matches exist to feed: fuzzy
    * name matches are edges over the name vocabulary, connected
    * components merge transitive matches ("acme corp" ~ "acme corp."
    * ~ "acme co") into one entity, and every matched name gets its
    * component's canonical entity key. Node/entity keys are REAL keys,
    * not hashes: a name's key is its MIN p_partkey, the component rep
    * the min key over the entity — so the output (p_name, name_key,
    * entity_key) joins back to fact rows directly. Names with no fuzzy
    * match are implicit singletons (own key), the [[DedupQueries
    * .dedupClusters]] vertex convention.
    *
    * Scale shape: everything here is vocabulary-scale by the module's
    * own blocking discipline — the match graph is the capped fuzzy
    * join's output, the key map one aggregate over the catalog, and the
    * component loop [[graft.operators.Components]] (per-round
    * propagate-min + pointer jump, O(log diameter) rounds, one action
    * per round, conf-isolated clone). The corpus-scale story is the
    * fuzzy join's own (probed); this composition adds only
    * vocabulary-sized equi joins. Reference principle: iterated
    * mapreduce over a stored map,
    * `/root/reference/src/dist_map.h:255-279`. */
  val linkageEntityClusters: Q = (s, d) => {
    val keys = Sessions.snapshot(
      Tables.part(s, d).groupBy("p_name")
        .agg(min(col("p_partkey")).as("k")))._2
    val matches = textFuzzyJoinBlocked(s, d).select("name_a", "name_b")
    val edges = matches
      .join(keys.select(col("p_name").as("name_a"), col("k").as("doc_a")), "name_a")
      .join(keys.select(col("p_name").as("name_b"), col("k").as("doc_b")), "name_b")
      .select("doc_a", "doc_b")
    val loopParts = math.max(4,
      s.conf.get("spark.sql.shuffle.partitions").toInt / 8)
    graft.operators.Components.connectedComponents(edges, loopParts)
      .join(keys, col("doc_id") === col("k"))
      .select(col("p_name"), col("doc_id").as("name_key"),
              col("cluster_rep").as("entity_key"))
      .orderBy("p_name")
  }

  /** Golden-record survivorship — the MERGE step that completes the
    * classic ER pipeline (block → match → cluster → merge; the
    * Fellegi–Sunter lineage [[linkageEntityClusters]] clusters for):
    * per entity, pick the canonical surviving name by the most-frequent
    * rule (raw-row count desc, name asc — a total order, so both
    * engines survive the same record) and aggregate the merged entity's
    * catalog evidence: variant count, total raw rows, and the price
    * range across every variant's rows. The arg-max is a min(struct)
    * over (−cnt, name) — one hash aggregate, no window over raw rows.
    *
    * Scale shape: everything is vocabulary-scale on top of the probed
    * fuzzy-match graph — the cluster labels ([[linkageEntityClusters]]),
    * one catalog aggregate for per-name stats, one equi join, one
    * entity-grouped aggregate. Output is bounded by the matched-entity
    * count. */
  val linkageGoldenRecord: Q = (s, d) => {
    val clusters = linkageEntityClusters(s, d)
      .select("p_name", "entity_key")
    val stats = Tables.part(s, d)
      .groupBy("p_name")
      .agg(count(lit(1)).as("cnt"),
           min(col("p_retailprice")).as("lo"),
           max(col("p_retailprice")).as("hi"))
    clusters.join(stats, "p_name")
      .groupBy("entity_key")
      .agg(
        min(struct((lit(0L) - col("cnt")).as("nc"), col("p_name").as("nm")))
          .as("best"),
        count(lit(1)).as("n_variants"),
        sum(col("cnt")).as("n_rows"),
        min(col("lo")).as("min_price"),
        max(col("hi")).as("max_price"))
      .select(col("entity_key"), col("best.nm").as("canonical_name"),
              col("n_variants"), col("n_rows"),
              col("min_price"), col("max_price"))
      .orderBy("entity_key")
  }

  val queries: Map[String, Q] = Map(
    "linkage_golden_record" -> linkageGoldenRecord,
    "linkage_entity_clusters" -> linkageEntityClusters,
    "text_fuzzy_join_blocked" -> textFuzzyJoinBlocked,
    "text_fuzzy_join_multikey" -> textFuzzyJoinMulti,
    "text_inverted_index" -> textInvertedIndex,
    "graph_triangle_count" -> graphTriangleCount,
    "graph_pagerank" -> graphPagerank,
    "graph_label_propagation" -> graphLabelPropagation,
  )

  /** Shared CTE prefix: the co-order support-thresholded pair set —
    * oracle mirror of [[coOrderPairs]], used verbatim by both graph
    * oracles so the edge derivation cannot drift between them. */
  private val coOrderSql: String =
    s"""items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), ok AS (
       |  SELECT o FROM items GROUP BY o HAVING COUNT(*) <= $MaxOrderItems
       |), pairs AS (
       |  SELECT a.p AS pa, b.p AS pb
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  JOIN ok ON ok.o = a.o
       |  GROUP BY a.p, b.p HAVING COUNT(*) >= $MinSupport
       |)""".stripMargin

  /** The [[PrIters]] unrolled PageRank rounds — generated from the same
    * constants the Spark loop reads, so the round count and damping can
    * never diverge between engines. */
  private def pagerankRoundsSql: String =
    (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT e.dst AS p,
         |         $PrTeleport + ($PrDampNum * SUM(r${k - 1}.r // e.sdeg)) // $PrDampDen AS r
         |  FROM e2 e JOIN r${k - 1} ON r${k - 1}.p = e.src GROUP BY e.dst
         |)""".stripMargin
    }.mkString(", ")

  /** The [[LpaIters]] unrolled label-propagation rounds — generated from
    * the same constants as the Spark loop (the pagerankRoundsSql
    * doctrine). Each round: per-(node, label) vote counts, then the
    * mode with min-label tiebreak expressed as the rows matching the
    * per-node max count, min label — semantically the Spark side's
    * max(struct(cnt, −label)) aggregate. */
  private def lpaRoundsSql: String =
    (1 to LpaIters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS p, l.lbl AS lbl, COUNT(*) AS cnt
         |  FROM edges e JOIN l${k - 1} l ON l.p = e.src GROUP BY 1, 2
         |), l$k AS (
         |  SELECT c.p, MIN(c.lbl) AS lbl
         |  FROM c$k c JOIN (SELECT p, MAX(cnt) AS m FROM c$k GROUP BY p) mx
         |    ON mx.p = c.p AND c.cnt = mx.m
         |  GROUP BY c.p
         |)""".stripMargin
    }.mkString(", ")

  /** Shared CTE prefix for the ER oracles: blocked fuzzy matches →
    * bidirectional edges → transitive closure (`reach`) — the oracle
    * mirror of [[linkageEntityClusters]]'s match graph + component loop,
    * factored so the cluster and golden-record oracles cannot drift. */
  private val erReachSql: String =
    s"""names AS (
       |  SELECT p_name FROM part GROUP BY p_name
       |), keys AS (
       |  SELECT p_name, CAST(MIN(p_partkey) AS BIGINT) AS k FROM part GROUP BY p_name
       |), blocked AS (
       |  SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names
       |), ok AS (
       |  SELECT blk FROM blocked GROUP BY blk HAVING COUNT(*) <= $MaxBlock
       |), vocab AS (
       |  SELECT b.* FROM blocked b JOIN ok USING (blk)
       |), mpairs AS (
       |  SELECT a.p_name AS name_a, c.p_name AS name_b
       |  FROM vocab a JOIN vocab c ON a.blk = c.blk AND a.p_name < c.p_name
       |  WHERE levenshtein(a.p_name, c.p_name) <= $MaxEdit
       |), epairs AS (
       |  SELECT ka.k AS doc_a, kb.k AS doc_b
       |  FROM mpairs m JOIN keys ka ON m.name_a = ka.p_name
       |                JOIN keys kb ON m.name_b = kb.p_name
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM epairs
       |  UNION
       |  SELECT doc_b, doc_a FROM epairs
       |), reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "linkage_entity_clusters" ->
      s"""WITH RECURSIVE $erReachSql
         |SELECT k2.p_name, r.src AS name_key,
         |       LEAST(r.src, MIN(r.dst)) AS entity_key
         |FROM reach r JOIN keys k2 ON k2.k = r.src
         |GROUP BY k2.p_name, r.src ORDER BY k2.p_name""".stripMargin,
    "linkage_golden_record" ->
      s"""WITH RECURSIVE $erReachSql, clus AS (
         |  SELECT k2.p_name, LEAST(r.src, MIN(r.dst)) AS entity_key
         |  FROM reach r JOIN keys k2 ON k2.k = r.src
         |  GROUP BY k2.p_name, r.src
         |), stats AS (
         |  SELECT p_name, COUNT(*) AS cnt,
         |         MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
         |  FROM part GROUP BY p_name
         |), jj AS (
         |  SELECT c.entity_key, c.p_name, s.cnt, s.lo, s.hi,
         |         ROW_NUMBER() OVER (PARTITION BY c.entity_key
         |                            ORDER BY s.cnt DESC, c.p_name) AS rk
         |  FROM clus c JOIN stats s USING (p_name)
         |)
         |SELECT entity_key, MIN(CASE WHEN rk = 1 THEN p_name END) AS canonical_name,
         |       CAST(COUNT(*) AS BIGINT) AS n_variants,
         |       CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |       MIN(lo) AS min_price, MAX(hi) AS max_price
         |FROM jj GROUP BY entity_key ORDER BY entity_key""".stripMargin,
    "text_fuzzy_join_blocked" ->
      s"""WITH names AS (
         |  SELECT p_name, COUNT(*) AS cnt FROM part GROUP BY p_name
         |), blocked AS (
         |  SELECT p_name, cnt, string_split(p_name, ' ')[-1] AS blk FROM names
         |), ok AS (
         |  SELECT blk FROM blocked GROUP BY blk HAVING COUNT(*) <= $MaxBlock
         |), vocab AS (
         |  SELECT b.* FROM blocked b JOIN ok USING (blk)
         |)
         |SELECT a.p_name AS name_a, c.p_name AS name_b,
         |       CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
         |       a.cnt AS cnt_a, c.cnt AS cnt_b
         |FROM vocab a JOIN vocab c ON a.blk = c.blk AND a.p_name < c.p_name
         |WHERE levenshtein(a.p_name, c.p_name) <= $MaxEdit
         |ORDER BY name_a, name_b""".stripMargin,
    "text_fuzzy_join_multikey" ->
      s"""WITH names AS (
         |  SELECT p_name, COUNT(*) AS cnt FROM part GROUP BY p_name
         |), tagged AS (
         |  SELECT p_name, cnt, 'L' || '#' || string_split(p_name, ' ')[-1] AS blk FROM names
         |  UNION ALL
         |  SELECT p_name, cnt, 'F' || '#' || string_split(p_name, ' ')[1] AS blk FROM names
         |), ok AS (
         |  SELECT blk FROM tagged GROUP BY blk HAVING COUNT(*) <= $MaxBlock
         |), vocab AS (
         |  SELECT t.* FROM tagged t JOIN ok USING (blk)
         |), cand AS (
         |  SELECT DISTINCT a.p_name AS name_a, c.p_name AS name_b,
         |         a.cnt AS cnt_a, c.cnt AS cnt_b
         |  FROM vocab a JOIN vocab c ON a.blk = c.blk AND a.p_name < c.p_name
         |)
         |SELECT name_a, name_b,
         |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist, cnt_a, cnt_b
         |FROM cand WHERE levenshtein(name_a, name_b) <= $MaxEdit
         |ORDER BY name_a, name_b""".stripMargin,
    "text_inverted_index" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT term, doc_id FROM (
         |    SELECT doc_id,
         |           UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS term
         |    FROM documents WHERE text IS NOT NULL)
         |)
         |SELECT term, (doc_id - ((doc_id % $PostingShard + $PostingShard) % $PostingShard)) // $PostingShard AS shard, COUNT(*) AS df_shard,
         |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM toks GROUP BY term, (doc_id - ((doc_id % $PostingShard + $PostingShard) % $PostingShard)) // $PostingShard
         |ORDER BY term, shard""".stripMargin,
    "graph_pagerank" ->
      s"""WITH $coOrderSql, edges AS (
         |  SELECT pa AS src, pb AS dst FROM pairs
         |  UNION ALL
         |  SELECT pb, pa FROM pairs
         |), deg AS (
         |  SELECT src AS p, COUNT(*) AS deg FROM edges GROUP BY src
         |), e2 AS (
         |  SELECT e.src, e.dst, d.deg AS sdeg FROM edges e JOIN deg d ON d.p = e.src
         |), r0 AS (
         |  SELECT p, CAST($PrScale AS BIGINT) AS r FROM deg
         |), $pagerankRoundsSql
         |SELECT f.p AS p_partkey, CAST(f.r AS BIGINT) AS pagerank,
         |       CAST(d.deg AS BIGINT) AS degree
         |FROM r$PrIters f JOIN deg d ON d.p = f.p
         |ORDER BY pagerank DESC, p_partkey LIMIT 20""".stripMargin,
    "graph_label_propagation" ->
      s"""WITH $coOrderSql, edges AS (
         |  SELECT pa AS src, pb AS dst FROM pairs
         |  UNION ALL
         |  SELECT pb, pa FROM pairs
         |), l0 AS (
         |  SELECT DISTINCT src AS p, src AS lbl FROM edges
         |), $lpaRoundsSql
         |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
         |       CAST(MIN(p) AS BIGINT) AS member_min,
         |       CAST(MAX(p) AS BIGINT) AS member_max
         |FROM l$LpaIters GROUP BY lbl
         |ORDER BY n_members DESC, community LIMIT 20""".stripMargin,
    "graph_triangle_count" ->
      s"""WITH $coOrderSql, deg AS (
         |  SELECT p, COUNT(*) AS deg FROM (
         |    SELECT pa AS p FROM pairs UNION ALL SELECT pb AS p FROM pairs)
         |  GROUP BY p
         |), orient AS (
         |  SELECT CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pa ELSE e.pb END AS src,
         |         CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pb ELSE e.pa END AS dst,
         |         CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN db.deg ELSE da.deg END AS dstd
         |  FROM pairs e
         |  JOIN deg da ON da.p = e.pa
         |  JOIN deg db ON db.p = e.pb
         |), tri AS (
         |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
         |  FROM orient e1
         |  JOIN orient e2 ON e1.src = e2.src
         |    AND (e1.dstd, e1.dst) < (e2.dstd, e2.dst)
         |  JOIN orient e3 ON e3.src = e1.dst AND e3.dst = e2.dst
         |)
         |SELECT p AS p_partkey, CAST(COUNT(*) AS BIGINT) AS tri_cnt,
         |       CAST(MIN(deg) AS BIGINT) AS degree
         |FROM (SELECT x AS p FROM tri UNION ALL SELECT y AS p FROM tri
         |      UNION ALL SELECT z AS p FROM tri) t
         |JOIN deg USING (p)
         |GROUP BY p ORDER BY tri_cnt DESC, p_partkey LIMIT 20""".stripMargin,
  )
}
