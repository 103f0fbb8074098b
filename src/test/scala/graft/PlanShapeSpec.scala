package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** Pins the three round-13 plan-shape fixes against silent regression —
  * each was a structurally-linear query whose PLAN was quietly wrong in
  * a way no correctness gate could see:
  *  - emb_kmeans's argmin planned as SortAggregates over the ×k stream
  *    (struct/array aggregation buffers are not hash-aggregatable);
  *  - sample_dsir_weights scanned documents three times and elected the
  *    corpus-side token stream as the broadcast build;
  *  - sim_pq_adc_topk's (probe, vec) collapse depended on AQE partition
  *    layout because the codes exchange was keyed (vec_id, m).
  * These assert on the INITIAL physical plan (pre-execution), which is
  * where each property is decided — cheap, no jobs run.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): SparkPlan = {
    val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    p
  }

  test("emb_kmeans plans hash aggregates only — no sort of the xk-expanded stream") {
    val sorts = planNodes(planOf("emb_kmeans")).collect { case s: SortAggregateExec => s }
    assert(sorts.isEmpty,
      s"emb_kmeans regressed to ${sorts.size} SortAggregate(s) — the packed-long " +
        "argmin (KMeans.assign) or a non-primitive aggregation buffer changed")
  }

  test("sample_dsir_weights scans documents once in the main plan and never broadcasts it") {
    val plan = planOf("sample_dsir_weights")
    val docScans = planNodes(plan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) => f
    }
    // The stats-build scan runs inside the snapshot's own QueryExecution;
    // the main plan keeps exactly the scoring scan.
    assert(docScans.size == 1,
      s"dsir main plan has ${docScans.size} documents scans — the stats snapshot " +
        "(round-12 verdict #2) was dropped or a third reader appeared")
    assert(org.apache.spark.sql.graftx.Metrics
        .broadcastsContainingScan(Seq(plan), "documents.parquet") == 0,
      "dsir broadcasts a subtree containing the documents scan — the corpus-side " +
        "token stream must never be the build side (the stats pin regressed)")
  }

  test("emb_pq_trained_codes: hash aggregates and equi joins only") {
    // The per-subspace Lloyd assignments are EQUI broadcast-hash joins
    // on the subspace index (m === cm) — unlike emb_kmeans there is no
    // bounded cross join to allowlist, and the packed-min argmin must
    // stay hash-aggregatable (a struct/array buffer would plan the ×4
    // candidate stream through SortAggregates, the round-12 lesson).
    val ps = planNodes(planOf("emb_pq_trained_codes"))
    val sorts = ps.collect { case s: SortAggregateExec => s }
    assert(sorts.isEmpty,
      s"emb_pq_trained_codes regressed to ${sorts.size} SortAggregate(s)")
    val nested = ps.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty,
      s"emb_pq_trained_codes has ${nested.size} nested-loop join(s) — " +
        "every assignment must stay an equi join on the subspace index")
  }

  test("text_lm_fluency: hash aggregates and equi joins only") {
    // The LM scorer's whole scale story is "exactly one corpus-scale
    // EQUI join" (stream ⋈ model on (w1, w2)) with every aggregate a
    // long-buffer HashAggregate; a nested-loop anywhere (e.g. the model
    // side losing its join keys) or a SortAggregate over the bigram
    // stream (e.g. a struct/array buffer creeping into the collapse) is
    // the regression class this pin catches.
    val ps = planNodes(planOf("text_lm_fluency"))
    val sorts = ps.collect { case s: SortAggregateExec => s }
    assert(sorts.isEmpty,
      s"text_lm_fluency regressed to ${sorts.size} SortAggregate(s)")
    val nested = ps.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty,
      s"text_lm_fluency has ${nested.size} nested-loop join(s) — " +
        "the scoring join must stay an equi join on (w1, w2)")
  }

  test("the ivfpq family's codes exchanges carry per-vector constants only") {
    // The ivfpq codes collapse groups by (vec_id, label) — label is
    // functionally dependent on vec_id, so a vector's re-exploded
    // subspace rows still land in one partition by construction. Any
    // third key (e.g. the subspace index m creeping back in) would
    // reintroduce the layout-dependent collapse this family's round-13
    // probe failure taught. Both the raw-vector and residual variants
    // share the shape.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    def names(h: HashPartitioning): Seq[String] =
      h.expressions.collect { case a: AttributeReference => a.name }
    // Allowed second keys, all per-vector constants: label (the
    // fixture-cell variants), cluster (the trained-cell variant), and
    // qv (the KMeans.assign argmin exchanges inside the trained plan —
    // the documented hash-aggregatable grouping). The regression this
    // pin exists for is the SUBSPACE index m creeping into a codes key.
    Seq("sim_ivfpq_topk", "sim_ivfpq_residual_topk", "sim_ivfpq_trained_topk",
        "sim_ivfpq_rerank_topk", "sim_ivfpq_nprobe_topk")
      .foreach { q =>
        val exchanges = planNodes(planOf(q)).collect {
          case e: ShuffleExchangeExec => e.outputPartitioning
        }
        // The (probe_id, vec_id) exchange is the downstream ADC final
        // aggregation — legitimate; the CODES exchange is the vec_id-keyed
        // one without a probe key.
        val codesExchanges = exchanges.collect {
          case h: HashPartitioning
            if names(h).contains("vec_id") && !names(h).contains("probe_id") => h
        }
        assert(codesExchanges.nonEmpty, s"$q: no vec_id-keyed codes exchange found")
        codesExchanges.foreach { h =>
          assert(names(h).toSet.subsetOf(Set("vec_id", "label", "cluster", "qv")) &&
              h.expressions.size == names(h).size,
            s"$q: codes exchange keys regressed: ${h.expressions.map(_.sql)}")
        }
      }
  }

  test("sim_pq_adc_topk's codes exchange is keyed by vec_id alone") {
    // Keyed (vec_id, m), the (probe, vec) partial-agg collapse depends on
    // partition layout (measured 309x records at 100x); keyed vec_id, a
    // vector's re-exploded subspace rows stay together by construction.
    val exchanges = planNodes(planOf("sim_pq_adc_topk")).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    // Exact structural match (round-13 ADVICE): an exchange counts as
    // "the vec_id exchange" only when its partitioning expressions
    // reference the vec_id ATTRIBUTE — not when the rendered SQL merely
    // mentions the name inside a larger expression, which would flip the
    // test's meaning under a rename or a derived key.
    def referencesVecId(h: HashPartitioning): Boolean =
      h.expressions.exists(_.collectFirst {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if a.name == "vec_id" => a
      }.isDefined)
    val byVec = exchanges.collect {
      case h: HashPartitioning if referencesVecId(h) => h
    }
    assert(byVec.nonEmpty, "no vec_id-keyed exchange found")
    byVec.foreach { h =>
      assert(h.expressions.size == 1,
        s"a vec_id exchange carries extra keys (${h.expressions.map(_.sql)}) — " +
          "the layout-independent codes collapse regressed")
      assert(h.expressions.head.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference],
        s"the vec_id exchange key is not a bare attribute: ${h.expressions.head.sql}")
    }
  }

  test("graph_pagerank: exactly one dst-keyed rank exchange per round, no nested loops") {
    // Each power-iteration round is ONE destination aggregate — its
    // exchange is the round's entire shuffle. A second dst exchange per
    // round (a lost partial-agg, a sort sneaking in) or any nested-loop
    // node would be the volume regression the probe only catches at
    // probe time; this pins it on every build.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val ps = planNodes(planOf("graph_pagerank"))
    val dstExchanges = ps.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case h: HashPartitioning
        if h.expressions.sizeIs == 1 && h.expressions.head.collectFirst {
          case a: AttributeReference if a.name == "dst" => a
        }.isDefined => h
    }
    assert(dstExchanges.size == graft.queries.LinkageQueries.PrIters,
      s"expected ${graft.queries.LinkageQueries.PrIters} rank-update exchanges, " +
        s"found ${dstExchanges.size}")
    val nested = ps.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty, s"pagerank plans ${nested.size} nested-loop node(s)")
    val sorts = ps.collect { case s: SortAggregateExec => s }
    assert(sorts.isEmpty, "the rank aggregate regressed to SortAggregate")
  }

  test("text_bpe_train: the declared frame never re-enters the corpus") {
    // Every merge round runs over the snapshotted vocabulary; the one
    // corpus scan lives inside the FIRST snapshot's own materialization
    // job. A FileSourceScan in the MAIN plan means a round started
    // re-reading documents — the vocabulary-scale loop contract broken.
    val ps = planNodes(planOf("text_bpe_train"))
    val scans = ps.collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty,
      s"bpe train's main plan carries ${scans.size} file scan(s) — rounds must " +
        "read only vocabulary snapshots")
    val argmaxes = ps.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
        if t.limit == 1 => t
    }
    assert(argmaxes.size == graft.queries.TextQueries.BpeMerges,
      s"expected ${graft.queries.TextQueries.BpeMerges} LIMIT-1 arg-max nodes, " +
        s"found ${argmaxes.size}")
  }

  test("text_bpe_encode: the apply chain is exactly rounds bounded crosses") {
    // The merge fold over the distinct-word table is rounds ≤ 1-row
    // broadcast crosses in the MAIN plan (the train merges live in the
    // snapshots). More means a duplicated chain; fewer means a merge
    // silently dropped — both invisible to correctness on a corpus
    // whose later merges happen not to fire.
    val ps = planNodes(planOf("text_bpe_encode"))
    val crosses = ps.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(crosses.size == graft.queries.TextQueries.BpeMerges,
      s"expected ${graft.queries.TextQueries.BpeMerges} apply crosses, " +
        s"found ${crosses.size}")
  }

  test("graph_label_propagation: hash aggregates only, no window, no nested loop") {
    // The vote argmax is a packed DECIMAL(38,0) max (the KMeans.assign
    // doctrine, decimal-widened for the unbounded label domain): a
    // max(struct) buffer is not hash-aggregatable and planned the
    // GRAPH-scale vote stream through 4 SortAggregates in the first
    // dump — the round-12 emb_kmeans smell, pinned here against return.
    val ps = planNodes(planOf("graph_label_propagation"))
    val sorts = ps.collect { case s: SortAggregateExec => s }
    assert(sorts.isEmpty,
      s"lpa regressed to ${sorts.size} SortAggregate(s) — the packed-decimal vote " +
        "argmax (cnt*2^64 + (2^64-1-label)) changed to a non-primitive buffer")
    assert(ps.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "lpa must not plan a window — the argmax is one aggregate")
    assert(ps.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "lpa's vote join must stay an equi join")
  }

  test("text_ccnet_buckets: both windows are lang-partitioned and consume the collapsed (lang, score) aggregate") {
    // The tercile cut's whole scale claim is that windows run over the
    // BOUNDED score-domain aggregate, never raw per-doc scores — and
    // partitioned by lang, never global (the WindowGuardSpec doctrine
    // applied to the counting sort).
    val ps = planNodes(planOf("text_ccnet_buckets"))
    val windows = ps.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 2, s"expected the cum + n window pair, got ${windows.size}")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, "ccnet window went global — must partition by lang")
      assert(planNodes(w.child).exists {
        case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
        case _ => false
      }, "ccnet window consumes raw rows — the (lang, score) counting " +
        "aggregate collapse was dropped")
    }
  }
}
