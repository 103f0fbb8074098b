package graft

/** [[VolumeProbe.run]] end to end at a small size: sf0.001 at 1× and 2×,
  * one entry per kind of arm, and one whose persisted index writes
  * catalog tables. Each entry must pass, and its artifact must carry the
  * gate fields of its arms — an arm that silently stopped running would
  * drop them. The run must leave no catalog table behind. */
class VolumeProbeSpec extends SparkSpec {

  private val common = Seq("gate_records", "gate_joinrows", "gate_spill", "plan_sane", "pass")
  private val crosses = Seq("bnlj_expected", "plan_sane_gate")
  private val perRound = Seq("gate_rounds", "joinrows_gate")

  /** entry → the gate fields its arms record. */
  private val arms = Seq(
    "dedup_simhash_banded" -> Seq("gate_isolation", "isolation_gate", "records_gate",
      "joinrows_gate"),
    "text_fuzzy_join_blocked" -> Seq("gate_cap_engaged"),
    "text_inverted_index" -> Seq("gate_posting_bound"),
    "dedup_clusters_raw" -> perRound,
    "pagerank_iterate" -> (perRound ++ Seq("records_gate", "converged_2x")),
    "sample_dsir_weights" -> (crosses :+ "gate_no_corpus_broadcast"),
    "sim_ivfpq_topk" -> (crosses ++ Seq("gate_scan_cell_bounded", "scan_gate")),
    "sim_ivfpq_rerank_topk" -> (crosses ++ Seq("gate_refine_constant", "refine_gate")),
    "sim_ivfpq_clustered_topk" -> (crosses ++ Seq("gate_scan_cell_bounded", "scan_gate")),
    "dedup_semdedup" -> (crosses ++ Seq("gate_refine_balanced", "refine_gate",
      "gate_cand_linear", "cand_gate", "gate_qual_linear", "qual_gate", "joinrows_gate")))

  private val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold")
  private def tables: Set[String] = spark.catalog.listTables().collect().map(_.name).toSet
  private lazy val before = (confs.map(spark.conf.getOption), tables)
  private lazy val (artifact, allPass) = {
    before
    VolumeProbe.run(spark, sfDir, 2, arms.map(_._1))
  }

  /** entry → its artifact object's (key → raw JSON value). */
  private lazy val entries: Map[String, Map[String, String]] =
    """"([a-z0-9_]+)":\{([^{}]*)\}""".r.findAllMatchIn(artifact).map { m =>
      m.group(1) -> """"([^"]+)":("[^"]*"|[^,]*)""".r.findAllMatchIn(m.group(2))
        .map(f => f.group(1) -> f.group(2)).toMap
    }.toMap

  test("run gates exactly the given entries, all passing, and restores the session confs") {
    assert(entries.keySet == arms.map(_._1).toSet)
    assert(allPass, artifact)
    assert(artifact.endsWith(""""all_pass":true}"""))
    assert(confs.map(spark.conf.getOption) == before._1)
  }

  test("run leaves no catalog table behind") {
    artifact
    assert(tables -- before._2 == Set.empty)
  }

  for ((name, gates) <- arms)
    test(s"$name passes at 2x and records its arms' gates") {
      val fields = entries(name)
      assert(fields("pass") == "true", s"$name: $fields")
      val missing = (common ++ gates).filterNot(fields.contains)
      assert(missing.isEmpty, s"$name lacks $missing: $fields")
      val failed = fields.collect { case (k, "false") if k.startsWith("gate_") => k }
      assert(failed.isEmpty, s"$name failed $failed")
    }
}
