package graft

import graft.queries.{DedupQueries, ExtensionQueries, LinkageQueries, OlapQueries,
  SamplingQueries, SimilarityQueries, TextQueries}
import graft.queries.DedupQueries.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Metrics

/** The salted scale fixture and the one table of scale entries behind
  * every sub-quadratic scaling gate: the 10× `ScaleProbeSpec` and the
  * 10×–1000× [[VolumeProbe]] both write their 1× and factor× corpora here
  * and take their queries from [[entries]]; each keeps only its gates and
  * the names it runs.
  *
  * A fixture [[Kind]] is one writer for the pair (1× raw copy of the sf
  * tables, factor× salted copies). The factor× table is the 1× table
  * cross-joined against the copy-tag range `0 until factor` and salted per
  * copy t — one plan whatever the factor (a 1000-way union is where
  * Catalyst, not the data, becomes the bottleneck) — and each written
  * file holds its copies one after another. Files and row order are not
  * a union's; every declared query is partition- and order-invariant
  * (PartitionInvarianceSpec). The salting rules:
  *
  *  - Per-copy word tags. Every word of a document (and every token of a
  *    part name) gets the suffix `q<t>`, and ids move by a per-copy
  *    offset. Intra-copy near-dup structure, shingle document
  *    frequencies and in-block edit distances are preserved exactly,
  *    while cross-copy shingle, token and block collisions are
  *    impossible — so candidate pairs grow ~factor×, not factor²× as
  *    naive duplication would force (each row would match its clones,
  *    making even a perfectly linear operator measure quadratic).
  *  - The orthogonal ±1 diagonal. Copy t of an embedding flips the sign
  *    of dimension i when murmur3(i, t) is odd. A diagonal ±1 matrix is
  *    orthogonal, so intra-copy dot products — and each copy's
  *    near-neighbour structure — are preserved exactly, while cross-copy
  *    geometry and sign-LSH buckets (which see the flipped coordinates)
  *    are scrambled: the embedding analogue of the word tags.
  *  - Disjoint copies. Every id a query joins on moves by a per-copy
  *    offset beyond the 1× id range, so no two copies share a key: doc
  *    ids by 10⁸, part keys by 10⁸, order, event and co-order part keys
  *    by 10⁹ (offsetting only the order key would pile co-occurrence
  *    support onto the same part pairs and densify the graph as a
  *    duplication artifact), event epochs by 400 days for the `ewj`
  *    window join (more data is more time span there; the event type
  *    keeps its declared value), and event types take a `_q<t>` tag
  *    elsewhere so the (type, day) domain grows factor×. Dimension
  *    tables stay 1× — the 100 TB shape: facts grow, dimensions don't.
  *  - Embedding ids move by 2²², not 10⁸. The candidate packs of the
  *    embedding pair queries shift ids into the high half of a long
  *    under an enforced 0 ≤ vec_id < 2³² precondition, so the probe's
  *    id universe must model that regime: 2²² keeps every id below 2³²
  *    through factor 1023 while copies stay disjoint (sf0.1 has 2 000
  *    vectors). With 10⁸, ids cross 2³² from factor 43 and the queries
  *    raise. The `semdd` variant moves ids by the 1× vector count
  *    instead: SemDeDup's seed rule `vec_id < k` needs dense ids, and
  *    the 2²² offset would cap it at the 1× id range.
  *  - The hot block. The `fz` part names carry 20 unsalted names sharing
  *    the last token `zzcommonblock` at 1× and 20·factor at factor×
  *    (keys at 10¹², beyond every salted copy), so the blocking key goes
  *    genuinely Zipf with scale: past factor 50 the block exceeds
  *    `LinkageQueries.MaxBlock` and the probe gates that the cap skips
  *    it instead of the self-join going quadratic inside it.
  *
  * ScaleFixtureSpec pins these invariants: factor× the rows, disjoint
  * copy ids, 1× rows recovered by stripping the salt, dot products
  * preserved by the sign flip.
  */
object ScaleFixture {

  sealed trait Kind
  /** documents.parquet: word tags, doc ids + t·10⁸. */
  case object Docs extends Kind
  /** embeddings.parquet: ±1 diagonal, vec ids + t·2²². */
  case object Embeddings extends Kind
  /** semdd/embeddings.parquet: ±1 diagonal, vec ids + t·(1× count). */
  case object DenseEmbeddings extends Kind
  /** orders, lineitem, events (keys + t·10⁹, event types tagged) and the
    * five dimensions copied 1×, at the fixture root. */
  case object Facts extends Kind
  /** ewj/events.parquet: event ids + t·10⁹, timestamps + t·400 days. */
  case object Ewj extends Kind
  /** tri/lineitem.parquet: order and part keys + t·10⁹. */
  case object Tri extends Kind
  /** fz/part.parquet: p_partkey, p_name, p_retailprice; token tags, keys
    * + t·10⁸, plus the hot block. */
  case object Fz extends Kind
  /** kml/embeddings.parquet: the planted Lloyd migration chain. */
  case object Kml extends Kind

  /** One scale claim: a query at 1× and at factor×, what it reads, and
    * the bounded nested-loop joins its declared plan carries at both
    * scales — the exact-allowlisted ≤ k-row broadcast crosses
    * (BroadcastGuardSpec documents the bounds), 0 for none. A gate
    * admits nested loops only in an entry that declares them; the
    * volume probe pins the count. */
  final case class Entry(name: String, kinds: Seq[Kind], q1: Q, qN: Q, crosses: Int = 0) {

    /** The plan-shape rule of both scale harnesses, over the executed
      * plans of one 1× and one factor× run: no nested-loop join at
      * factor× — or, for an entry that declares bounded crosses, no
      * CartesianProduct and EXACTLY `crosses` BroadcastNestedLoopJoins
      * at both scales (mere cross-scale equality would pass an unbounded
      * nested loop present at both, e.g. a regression that drops the
      * broadcast bound at fixture scale too). */
    def planSane(plans1: Seq[SparkPlan], plansN: Seq[SparkPlan]): Boolean =
      if (crosses == 0) !Metrics.hasNestedLoop(plansN)
      else !Metrics.hasCartesian(plansN) && Metrics.nestedLoopCount(plans1) == crosses &&
        Metrics.nestedLoopCount(plansN) == crosses
  }

  /** Copy t's offsets: doc and part ids, order/event/co-order keys,
    * `ewj` timestamps (400 days in ns), embedding ids. */
  private[graft] val DocOffset = 100000000L
  private[graft] val KeyOffset = 1000000000L
  private[graft] val EpochOffset = 400L * 86400L * 1000000000L
  private[graft] val EmbeddingOffset = 1L << 22
  private val HotKeyBase = 1000000000000L
  private val HotNames1 = 20L
  private val KmlBlob1 = 5000L
  private val KmlChain1 = 100L

  /** Writes the 1× copy under `dir1` and the factor× copies under `dirN`
    * of every kind in `kinds`, from the sf tables in `sf`. */
  def write(spark: SparkSession, sf: String, dir1: String, dirN: String,
      factor: Int, kinds: Iterable[Kind]): Unit =
    for (kind <- kinds.toSeq.distinct; (path, one, many) <- files(spark, sf, factor, kind)) {
      one.write.mode("overwrite").parquet(s"$dir1/$path")
      many.write.mode("overwrite").parquet(s"$dirN/$path")
    }

  private val tag = col("tag")

  /** `factor` copies of `df`, copy t salted by `salt` with `tag` = t.
    * The cross join is a Cartesian product in every session, so the files
    * do not depend on the session's broadcast threshold: one per pair of
    * `df` and tag-range partitions (a broadcast nested loop would write
    * one file per `df` partition — a single 10× file scans on two of four
    * cores). Each file holds its copies one after another, as a union of
    * the copies would: interleaved row by row they compress worse (6.6
    * against 5.9 MB for the 10× sf0.1 documents), and that size estimate
    * alone moved the 10× minhash band self-joins past the broadcast
    * threshold. */
  private def copies(df: DataFrame, factor: Int)(salt: DataFrame => DataFrame): DataFrame = {
    val tags = df.sparkSession.range(factor).select(col("id").cast("int").as("tag"))
    salt(df.crossJoin(tags.hint("shuffle_replicate_nl")).sortWithinPartitions("tag")).drop("tag")
  }

  private def tagWords(text: Column): Column =
    concat_ws(" ", transform(split(text, " "), w => concat(w, lit("q"), tag.cast("string"))))

  private def saltedEmbeddings(emb: DataFrame, factor: Int, offset: Long): DataFrame =
    copies(emb, factor)(_.select((col("vec_id") + tag * offset).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(pmod(hash(i, tag), lit(2)) === 1, negate(x)).otherwise(x)).as("embedding"),
      col("label")))

  /** `n` part names in one block, keyed beyond every salted copy. */
  private def hotNames(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select((col("id") + HotKeyBase).as("p_partkey"),
      concat(lit("hotname"), col("id").cast("string"), lit(" zzcommonblock")).as("p_name"),
      lit(1.0d).as("p_retailprice"))

  /** The planted migration chain of the kmeans_lloyd entry: a blob of
    * `blob` points at 0 and a linear chain of `chain` points one
    * millunit apart. k = 2 Lloyd seeded at vec_id 0 (a blob point) and 1
    * (the chain top) walks the boundary down the chain geometrically, so
    * rounds grow ~log₂ of the chain extent: 5/6/8/10 at factors
    * 1/10/100/1000 by exact integer simulation. The 1-millunit step
    * keeps the extent inside the packed-argmin domain at factor 1000. */
  private def kml(spark: SparkSession, blob: Long, chain: Long): DataFrame = {
    val blobPts = spark.range(blob)
      .select(when(col("id") === 0, 0L).otherwise(col("id") + 1).as("vec_id"),
        lit(0.0f).as("x"))
    val chainPts = spark.range(chain)
      .select(when(col("id") === chain - 1, 1L).otherwise(col("id") + blob + 1).as("vec_id"),
        ((col("id") + 1).cast("double") * lit(0.001d)).cast("float").as("x"))
    blobPts.unionByName(chainPts)
      .select(col("vec_id"), concat(array(col("x")), array_repeat(lit(0.0f), 63)).as("embedding"))
  }

  /** (path under the fixture dir, 1× frame, factor× frame) per file. */
  private def files(spark: SparkSession, sf: String, factor: Int,
      kind: Kind): Seq[(String, DataFrame, DataFrame)] = kind match {
    case Docs =>
      val docs = Tables.documents(spark, sf)
      Seq(("documents.parquet", docs, copies(docs, factor)(_.select(
        (col("doc_id") + tag * DocOffset).as("doc_id"), tagWords(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars")))))
    case Embeddings =>
      val emb = Tables.embeddings(spark, sf)
      Seq(("embeddings.parquet", emb, saltedEmbeddings(emb, factor, EmbeddingOffset)))
    case DenseEmbeddings =>
      val emb = Tables.embeddings(spark, sf)
      Seq(("semdd/embeddings.parquet", emb, saltedEmbeddings(emb, factor, emb.count())))
    case Facts =>
      def keyed(df: DataFrame, key: String) =
        copies(df, factor)(_.withColumn(key, col(key) + tag * KeyOffset))
      val ord = Tables.table(spark, sf, "orders")
      val li = Tables.table(spark, sf, "lineitem")
      val ev = Tables.events(spark, sf)
      Seq("region", "nation", "customer", "supplier", "part").map { dim =>
        val d = Tables.table(spark, sf, dim)
        (s"$dim.parquet", d, d)
      } ++ Seq(
        ("orders.parquet", ord, keyed(ord, "o_orderkey")),
        ("lineitem.parquet", li, keyed(li, "l_orderkey")),
        ("events.parquet", ev, copies(ev, factor)(_
          .withColumn("event_id", col("event_id") + tag * KeyOffset)
          .withColumn("event_type", concat(col("event_type"), lit("_q"), tag.cast("string"))))))
    case Ewj =>
      val ev = Tables.events(spark, sf)
      Seq(("ewj/events.parquet", ev, copies(ev, factor)(_
        .withColumn("event_id", col("event_id") + tag * KeyOffset)
        .withColumn("ts", col("ts") + tag * EpochOffset))))
    case Tri =>
      val li = Tables.table(spark, sf, "lineitem")
      Seq(("tri/lineitem.parquet", li, copies(li, factor)(_
        .withColumn("l_orderkey", col("l_orderkey") + tag * KeyOffset)
        .withColumn("l_partkey", col("l_partkey") + tag * KeyOffset))))
    case Fz =>
      val part = Tables.part(spark, sf).select("p_partkey", "p_name", "p_retailprice")
      Seq(("fz/part.parquet", part.unionByName(hotNames(spark, HotNames1)),
        copies(part, factor)(_.select((col("p_partkey") + tag * DocOffset).as("p_partkey"),
          tagWords(col("p_name")).as("p_name"), col("p_retailprice")))
          .unionByName(hotNames(spark, HotNames1 * factor))))
    case Kml =>
      Seq(("kml/embeddings.parquet", kml(spark, KmlBlob1, KmlChain1),
        kml(spark, KmlBlob1 * factor, KmlChain1 * factor)))
  }

  /** ⌈log₂ factor⌉ extra planes grown into a (k, L) LSH form whose table
    * count also grows for recall: candidate volume is ~L·n²/2^k, so the
    * plane growth Δk must absorb the table growth too, Δk = ⌈log₂(factor
    * · L/L₀)⌉ with L = L₀ + (Δk+1)/3, solved as a fixed point. Returns
    * (Δk, L): (4, 3) at factor 10 and (8, 5) at factor 100 for L₀ = 2 —
    * the first probe run gated the naive Δk = 7 and failed at 2.19×
    * linear, exactly the un-absorbed table factor. */
  private def planeFixedPoint(factor: Int, l0: Int): (Int, Int) = {
    var dk = log2Ceil(factor)
    var next = log2Ceil(factor * (l0 + (dk + 1) / 3) / l0.toDouble)
    while (next != dk) {
      dk = next
      next = log2Ceil(factor * (l0 + (dk + 1) / 3) / l0.toDouble)
    }
    (dk, l0 + (dk + 1) / 3)
  }

  private[graft] def log2Ceil(x: Double): Int = math.ceil(math.log(x) / math.log(2)).toInt

  /** The loop width of a loop entry: the shuffle width the harness set
    * for the arm (the probe tracks it with the volume). */
  private def width(s: SparkSession): Int = s.conf.get("spark.sql.shuffle.partitions").toInt

  /** `q` over the sub-fixture `sub` of the fixture dir. */
  private def under(sub: String, q: Q): Q = (s, d) => q(s, s"$d/$sub")

  /** Every scale entry at `factor`, given the 1× document count `nDocs1`.
    * An entry runs the same query at both scales except where the
    * factor× form is the deployment re-parameterization a growing corpus
    * gets: the LSH entries grow their planes with log₂ n (a fixed
    * blocking at growing n densifies every bucket and measures the drop
    * branch, not the operator), the SimHash bands follow the saturation
    * ladder, SemDeDup's cells grow ∝ n. */
  def entries(factor: Int, nDocs1: Long): Seq[Entry] = {
    def sym(name: String, kinds: Seq[Kind], q: Q, crosses: Int = 0) =
      Entry(name, kinds, q, q, crosses)
    val docs = Seq(Docs)
    val emb = Seq(Embeddings)
    val extraPlanes = log2Ceil(factor)
    Seq(
      sym("dedup_minhash_lsh", docs, DedupQueries.dedupMinhashLsh),
      sym("dedup_minhash_capped", docs, DedupQueries.dedupMinhashCapped),
      sym("dedup_jaccard_on_lsh", docs, DedupQueries.dedupJaccardOnLsh),
      // The sketch-calibration composition: the two probed candidate and
      // rescoring shapes plus candidate-mass-bounded signature lookups.
      sym("dedup_minhash_estimate", docs, DedupQueries.dedupMinhashEstimate),
      // The df-capped exact shingle self-join: word tags preserve each
      // shingle's document frequency, so the df ≤ 64 cap drops the same
      // universe at every factor. Containment shares the plan class but
      // its ratio filter keeps a different pair population.
      sym("dedup_ngram_jaccard_capped", docs, DedupQueries.dedupNgramJaccardCapped),
      sym("dedup_containment", docs, DedupQueries.dedupContainment),
      // The banded SimHash join runs the declared (6, 2) at 1× and the
      // (m, r) the saturation ladder picks for factor× docs — (6, 2) up
      // to ~140 k docs (factor 27 on sf0.1), (7, 3) at 100×;
      // EquivalenceSpec pins the ladder forms bit-identical to (6, 2).
      Entry("dedup_simhash_banded", docs, DedupQueries.dedupSimhashBandedBlocks(6, 2), {
        val (m, r) = DedupQueries.simhashBandedParamsFor(nDocs1 * factor)
        DedupQueries.dedupSimhashBandedBlocks(m, r)
      }),
      sym("text_dup_span_ratio", docs, TextQueries.textDupSpanRatio),
      // Novelty's digested-shingle min-aggregate keeps every copy's
      // first-occurrence structure intact under the word tags.
      sym("text_ngram_novelty", docs, TextQueries.textNgramNovelty),
      // Span removal: the token-level anti join, every token moves once.
      sym("text_dedup_spans", docs, TextQueries.textDedupSpans),
      // The leakage audit's risk is the count-distinct expansion over
      // (source, digest) groups; salted dup groups grow linearly.
      sym("split_leakage_audit", docs, SamplingQueries.splitLeakageAudit),
      // The raw label pipeline (candidates + iterative components, no
      // memo): a memoized entry would time a memo-table read.
      sym("dedup_clusters_raw", docs, DedupQueries.dedupClustersRaw),
      sym("dedup_cluster_sizes_raw", docs, DedupQueries.dedupClusterSizesRaw),
      sym("dedup_keep_canonical_raw", docs, DedupQueries.dedupKeepCanonicalRaw),
      // The bucket self-join with inline cosine and a single-exchange
      // rank. Planes-only growth is recall-safe through k = 13
      // (RecallSpec); past that, the 1000× decade, both dials grow via
      // the fixed point at the operator's own L₀ = NTables.
      Entry("sim_knn_graph", emb,
        SimilarityQueries.simKnnGraphPlanes(SimilarityQueries.NPlanes),
        if (SimilarityQueries.NPlanes + extraPlanes <= 13)
          SimilarityQueries.simKnnGraphPlanes(SimilarityQueries.NPlanes + extraPlanes)
        else {
          val (dk, l) = planeFixedPoint(factor, SimilarityQueries.NTables)
          SimilarityQueries.simKnnGraphPlanes(SimilarityQueries.NPlanes + dk, l)
        }),
      // The multi-probe online ANN search: its fan grows only linearly in
      // k, so planes alone; RecallSpec pins the grown k = 13 form.
      Entry("sim_ann_lsh", emb, SimilarityQueries.simAnnLshPlanes(SimilarityQueries.NPlanes),
        SimilarityQueries.simAnnLshPlanes(SimilarityQueries.NPlanes + extraPlanes)),
      // (k, L) = (8, 3) at 10×, (12, 5) at 100×; RecallSpec pins both.
      Entry("dedup_embedding_pairs", emb, DedupQueries.dedupEmbeddingPairsPlanes(4), {
        val (dk, l) = planeFixedPoint(factor, 2)
        DedupQueries.dedupEmbeddingPairsPlanes(4 + dk, l)
      }),
      // Cells ∝ n, the paper's deployment dial (50 k cells at 440 M
      // embeddings), holds within-cell pair mass linear.
      // Its two bounded crosses are the two routing levels of the
      // two-level assignment (the ≤ r-row super table against the corpus
      // and against the ≤ k-row cell seed table), both inside the assigned
      // snapshot's materialization job; the level-2 refine is a broadcast
      // EQUI join, not a cross.
      Entry("dedup_semdedup", Seq(DenseEmbeddings),
        under("semdd", DedupQueries.dedupSemdedupCells(DedupQueries.SemdedupCells)),
        under("semdd", DedupQueries.dedupSemdedupCells(DedupQueries.SemdedupCells * factor)),
        crosses = 2),
      // Assigns each of its 5 probes through a ≤ labels-row broadcast
      // cross join: output bounded by probes × labels at any size.
      sym("sim_ann_ivf", emb, SimilarityQueries.simAnnIvf, crosses = 1),
      sym("dedup_source_overlap", docs, DedupQueries.dedupSourceOverlap),
      sym("dedup_incremental", docs, DedupQueries.dedupIncremental),
      // crossJoin(broadcast(nDocs)): the 1-row corpus-size scalar.
      sym("text_tfidf_top_terms", docs, TextQueries.textTfidfTopTerms, crosses = 1),
      // Word tags grow vocabulary and totals factor× with every word's cf
      // unchanged, so the relative rarity rule selects the same per-copy
      // structure. Its one cross is crossJoin(broadcast(totals)), the
      // 1-row vocabulary totals scalar the head/tail tag compares
      // against (one executed node at 1× and 10×: the head and tail
      // filters share it).
      sym("text_token_rarity", docs, TextQueries.textTokenRarity, crosses = 1),
      // Tagged words make each copy's bigram vocabulary disjoint: model
      // table, per-doc bigram stream and the scoring join grow factor×,
      // and CCNet's per-doc scores — hence its thresholds — are
      // scale-invariant.
      sym("text_lm_fluency", docs, TextQueries.textLmFluency),
      sym("text_ccnet_buckets", docs, TextQueries.textCcnetBuckets),
      sym("join_supply_revenue", Seq(Facts), OlapQueries.joinSupplyRevenue),
      sym("part_type_revenue", Seq(Facts), OlapQueries.partTypeRevenue),
      sym("events_anomaly_zscore", Seq(Facts), OlapQueries.eventsAnomalyZscore),
      // User ids and timestamps are shared across copies, so funnel and
      // transitions see factor× rows per user — the per-user window
      // cascade at factor× depth — while retention's distinct
      // (user, day) output is unchanged: it gates that the distinct
      // shuffle partial-aggregates instead of moving raw rows.
      sym("events_type_transitions", Seq(Facts), ExtensionQueries.eventsTypeTransitions),
      sym("events_funnel", Seq(Facts), ExtensionQueries.eventsFunnel),
      sym("events_retention", Seq(Facts), ExtensionQueries.eventsRetention),
      // As-of: the quote side's (custkey, date) domain collapses to 1×
      // under the aggregate while events grow. The lateness window's
      // per-minute domain is scale-invariant, so it gates that the window
      // input stays the collapsed frame.
      sym("asof_last_order", Seq(Facts), ExtensionQueries.asofLastOrder),
      sym("events_lateness_histogram", Seq(Facts), ExtensionQueries.eventsLatenessHistogram),
      // The declared `=== "error"` literal needs untagged event types:
      // `ewj` keeps them and moves each copy to its own epoch instead.
      sym("events_error_window_join", Seq(Ewj), under("ewj", ExtensionQueries.eventsErrorWindowJoin)),
      sym("events_anomaly_mad", Seq(Facts), ExtensionQueries.eventsAnomalyMad),
      sym("olap_grouping_sets", Seq(Docs, Facts), ExtensionQueries.olapGroupingSets),
      // Co-order graphs on disjoint copies: edges, wedges and triangles,
      // PageRank's per-round joins and LPA's votes (labels never cross
      // copies — no edges do) all grow exactly factor×.
      sym("graph_triangle_count", Seq(Tri), under("tri", LinkageQueries.graphTriangleCount)),
      sym("graph_pagerank", Seq(Tri), under("tri", LinkageQueries.graphPagerank)),
      sym("graph_label_propagation", Seq(Tri),
        under("tri", LinkageQueries.graphLabelPropagation)),
      // The fuzzy joins and the entity clusters built from their matches:
      // both block spaces (last token, first token) are disjoint per copy,
      // and only the hot block's last token is shared.
      sym("text_fuzzy_join_blocked", Seq(Fz), under("fz", LinkageQueries.textFuzzyJoinBlocked)),
      sym("text_fuzzy_join_multikey", Seq(Fz), under("fz", LinkageQueries.textFuzzyJoinMulti)),
      sym("linkage_entity_clusters", Seq(Fz), under("fz", LinkageQueries.linkageEntityClusters)),
      sym("linkage_golden_record", Seq(Fz), under("fz", LinkageQueries.linkageGoldenRecord)),
      // Terms are per-copy distinct, so (term, doc) pairs grow factor×.
      sym("text_inverted_index", docs, LinkageQueries.textInvertedIndex),
      // crossJoin(broadcast(stats)): the 1-row (n_docs, total length)
      // corpus scalar BM25's idf and length norm read.
      sym("text_bm25_topk", docs, TextQueries.textBm25TopK, crosses = 1),
      // crossJoin(broadcast(globals)): the 1-row corpus-total scalar.
      sym("sample_temperature_mix", docs, SamplingQueries.sampleTemperatureMix,
        crosses = 1),
      // DSIR's feature table is pinned at ≤ 2·DsirB rows by the hash
      // width at any corpus size; only the token stream grows. Its one
      // cross is the 1-row scalar totals.
      sym("sample_dsir_weights", docs, SamplingQueries.sampleDsirWeights, crosses = 1),
      sym("sample_unimax", docs, SamplingQueries.sampleUnimax),
      sym("text_gopher_rules", docs, TextQueries.textGopherRules),
      // BPE: the corpus word count grows factor× while every merge round
      // stays bounded by the vocabulary cap. One ≤ 1-row winner cross per
      // merge round (the LIMIT-1 arg-max over the capped vocabulary),
      // except the last round, whose merge has no consumer and is never
      // built; the encode path consumes every winner, so it adds one
      // ≤ 1-row apply cross per round over the distinct-word table.
      sym("text_bpe_train", docs, TextQueries.textBpeTrain, crosses = TextQueries.BpeMerges - 1),
      sym("text_bpe_encode", docs, TextQueries.textBpeEncode,
        crosses = 2 * TextQueries.BpeMerges - 1),
      // Range search's output is the τ-ball mass: intra-copy cosines are
      // preserved exactly by the ±1 diagonal. The ≤ 5-probe broadcast
      // against the corpus scan IS a nested loop by construction, its
      // output gated by the join-rows arm.
      sym("sim_range_search", emb, SimilarityQueries.simRangeSearch, crosses = 1),
      // k-means' assignment partials grow with the vectors while the
      // centroid tables stay k = 8 rows: two Lloyd iterations, two ≤ 8-row
      // centroid crosses, the ×8 expansion collapsed in-stage by the
      // map-side-combined argmin.
      sym("emb_kmeans", emb, SimilarityQueries.embKmeans, crosses = 2),
      // PQ and IVF-PQ at their fixed operator parameters (8 subspaces,
      // k = 4 seed codebook, 5 probes — none is a scale dial).
      sym("emb_pq_codes", emb, SimilarityQueries.embPqCodes),
      sym("sim_pq_adc_topk", emb, SimilarityQueries.simPqAdcTopk),
      // Every IVF-PQ scan's one cross is the ≤ |cells|-row probe-routing
      // cross: rerank wraps the sim_ivfpq_topk plan once (the refine adds
      // equi joins only), nprobe = 2 widens the routing filter, the
      // clustered scan reads its codes from the pre-ensured catalog table.
      sym("sim_ivfpq_topk", emb, SimilarityQueries.simIvfPqTopk, crosses = 1),
      sym("sim_ivfpq_residual_topk", emb, SimilarityQueries.simIvfPqResidualTopk, crosses = 1),
      // The PLAN-TREE node count of its bounded assign crosses after
      // physical subtree sharing: the logical tree duplicates the c2-fed
      // chains, the planner shares part of them, and the identity-deduped
      // walk measures 6 nodes at every scale (4 distinct assigns — c1, c2,
      // cells, probe routing — plus the two re-rooted copies the sharing
      // leaves). AQE's stage cache dedupes the actual WORK down to exactly
      // three corpus assignment passes (BroadcastGuardSpec's measurement).
      sym("sim_ivfpq_trained_topk", emb, SimilarityQueries.simIvfPqTrainedTopk, crosses = 6),
      sym("sim_ivfpq_rerank_topk", emb, SimilarityQueries.simIvfPqRerankTopk, crosses = 1),
      sym("sim_ivfpq_nprobe_topk", emb, SimilarityQueries.simIvfPqNprobeTopk, crosses = 1),
      sym("sim_ivfpq_clustered_topk", emb, SimilarityQueries.simIvfPqClusteredTopk, crosses = 1),
      // Full-trained IVFPQR: the three Lloyd-chain assign crosses (c1, c2,
      // final cells) run INSIDE the residual-subspace snapshot's one
      // materialization job; everything downstream is equi joins over the
      // cached frame, so no re-rooted copies survive sharing.
      sym("sim_ivfpq_full_trained_topk", emb, SimilarityQueries.simIvfPqFullTrainedTopk,
        crosses = 3),
      // The deployment scans read every trained piece from pre-ensured
      // catalog tables, so their one cross is the probe-side assign
      // against the ≤ 8-row persisted cells (the split's 9-row cells);
      // the delete plan instantiates the ≤ 5-row probe pipeline twice but
      // the planner SHARES the subtree, so one node survives. The drift
      // guard's one cross is the corpus-side assign through the frozen
      // cells; cell stats' the ≤ |cells|-row totals broadcast. The gc
      // audit joins by equi join only. The reclaim and split jobs' own
      // crosses live inside the tables' one-time writes (ingest).
      sym("sim_ivfpq_full_clustered_topk", emb, SimilarityQueries.simIvfPqFullClusteredTopk,
        crosses = 1),
      sym("sim_ivfpq_append", emb, SimilarityQueries.simIvfPqAppendTopk, crosses = 1),
      sym("sim_ivfpq_delete_topk", emb, SimilarityQueries.simIvfPqDeleteTopk, crosses = 1),
      sym("sim_ivfpq_append_nprobe", emb, SimilarityQueries.simIvfPqAppendNprobeTopk,
        crosses = 1),
      sym("sim_ivfpq_cell_stats", emb, SimilarityQueries.simIvfPqCellStats, crosses = 1),
      sym("sim_ivfpq_gc_stats", emb, SimilarityQueries.simIvfPqGcStats),
      sym("sim_ivfpq_compact_topk", emb, SimilarityQueries.simIvfPqCompactTopk, crosses = 1),
      sym("sim_ivfpq_cell_split", emb, SimilarityQueries.simIvfPqCellSplit, crosses = 1),
      sym("sim_ivfpq_drift_guard", emb, SimilarityQueries.simIvfPqDriftGuard, crosses = 1),
      sym("emb_pq_trained_codes", emb, SimilarityQueries.embPqTrainedCodes),
      // The run-to-convergence loops. Lloyd on the planted chain: rounds
      // grow with the chain extent (one centroid cross per round — a
      // rounds-dependent count the volume probe pins, so none declared). PageRank: rounds are set by the
      // damping contraction, not graph size. BPE: the corpus pays one
      // scan; every round is over ≤ BpeVocabCap rows. LPA: rounds are
      // each copy's community structure, flat across arms.
      sym("kmeans_lloyd", Seq(Kml), (s, d) => graft.operators.KMeans.lloyd(
        s.read.parquet(s"$d/kml/embeddings.parquet"),
        k = 2, dims = 64, loopParts = width(s), maxRounds = 40)),
      sym("pagerank_iterate", Seq(Tri), (s, d) => graft.operators.PageRank.iterate(
        LinkageQueries.coOrderPairs(s, s"$d/tri"), tol = 1000L, loopParts = width(s))),
      sym("bpe_train_loop", docs, (s, d) => graft.operators.Bpe.train(
        TextQueries.bpeDocWords(s, d), TextQueries.BpeMerges,
        minCount = 2L, loopParts = width(s))),
      sym("lpa_iterate", Seq(Tri), (s, d) => graft.operators.Lpa.iterate(
        LinkageQueries.coOrderPairs(s, s"$d/tri"), loopParts = width(s))))
  }
}
