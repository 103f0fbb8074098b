package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.sources.Tables

/** Incremental admission for the persisted IVFPQR index (round-16
  * verdict #1) — the EquivalenceSpec trio its done-criteria name:
  *
  *  1. append ≡ one-shot: the append-admitted codes table (base codes
  *     written day-0 from the training chain, delta codes appended day-1
  *     through the FROZEN persisted artifacts) equals, row for row, a
  *     single encode of the whole corpus through the same artifacts —
  *     i.e. admission is exactly "encode the new rows", never a rebuild,
  *     and the catalog roundtrip of cells/codebooks is lossless.
  *  2. append ≡ full retrain when the delta carries no new information:
  *     on a fixture of identical-point clusters (floor-means are exact
  *     fixpoints, so training on base and on base ∪ delta produce the
  *     SAME artifacts), the declared append scan equals the declared
  *     full-retrain scan output exactly.
  *  3. the drift guard separates the two regimes: false on the driver
  *     fixture (delta drawn from the same distribution — the declared
  *     instance), true on a planted drifted batch (delta far outside the
  *     training distribution), which is the retrain trigger.
  */
class IvfpqAppendSpec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$what differ: ${extraA} rows only in left, ${extraB} only in right")
  }

  test("append-admitted codes table == one-shot encode through the frozen artifacts") {
    val (codes, cellsT, cbT) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val oneShot = SimilarityQueries.ivfpqEncodeFrozenQ(
      graft.operators.KMeans.quantize(Tables.embeddings(spark, sfDir)), cellsT, cbT)
    assert(codes.count() > 0)
    assertSameRows(
      codes.select("vec_id", "cell", "m", "code"),
      oneShot.select("vec_id", "cell", "m", "code"),
      "appended codes vs one-shot encode")
  }

  test("delta admission is encode-only: delta rows present, base rows equal the trained codes") {
    val (codes, _, _) = SimilarityQueries.ivfpqAppendPersisted(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val nDelta = SimilarityQueries.appendDelta(emb).count()
    val nBase = SimilarityQueries.appendBase(emb).count()
    assert(nDelta > 0 && nBase > 0)
    // every admitted vector holds exactly 8 subspace codes
    val perVec = codes.groupBy("vec_id").count()
    assert(perVec.filter(col("count") =!= 8).count() == 0)
    assert(perVec.count() == nBase + nDelta)
  }

  /** Identical-point clusters: 8 separated anchors (anchor k = 1.0 in
    * dims [8k, 8k+8)), every row an exact copy of its id%8 anchor. The
    * millunit floor-mean of identical points IS the point, so every
    * Lloyd round returns the seed table unchanged — training on the base
    * partition and on the full corpus produce identical artifacts, and
    * append ≡ retrain becomes an exact-equality claim. */
  private lazy val noNewInfoDir: String = {
    val dir = tempDir("graft-appendfix")
    def anchor(k: Int): Array[Float] =
      Array.tabulate(64)(d => if (d / 8 == k) 1.0f else 0.0f)
    val rows = (0 until 100).map(i => (i.toLong, anchor(i % 8), i % 10))
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("no-new-information delta: append scan == full-retrain scan, artifacts identical") {
    // Artifacts: base-trained vs full-trained cells must coincide.
    val (_, cellsA, cbA) = SimilarityQueries.ivfpqAppendPersisted(spark, noNewInfoDir)
    val (_, cellsF, cbF) = SimilarityQueries.ivfpqFullPersisted(spark, noNewInfoDir)
    assertSameRows(cellsA, cellsF, "append vs retrain cell centroids")
    assertSameRows(cbA, cbF, "append vs retrain codebooks")
    // Declared scans: identical output.
    val appended = SimilarityQueries.simIvfPqAppendTopk(spark, noNewInfoDir).collect()
    val retrained = SimilarityQueries.simIvfPqFullTrainedTopk(spark, noNewInfoDir).collect()
    assert(appended.nonEmpty)
    assert(appended.toSeq == retrained.toSeq,
      "append-admitted scan diverged from the full-retrain scan on a no-new-info delta")
  }

  test("drift guard: false on a same-distribution delta, true on a planted drifted batch") {
    // Declared instance (driver fixture): delta is every 10th vector of
    // the same synthetic distribution — means comparable, no retrain.
    val declared = SimilarityQueries.simIvfPqDriftGuard(spark, sfDir).head
    assert(!declared.getAs[Boolean]("retrain_needed"),
      s"same-distribution delta tripped the retrain guard: $declared")
    // Planted drift: delta rows sit at a constant far outside the
    // training distribution; their residual quantization error through
    // the frozen artifacts dwarfs the base mean.
    val dir = tempDir("graft-driftfix")
    val rnd = new java.util.Random(1719L)
    def noise(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val far = Array.fill(64)(4.0f)
    val rows = (0 until 100).map { i =>
      (i.toLong, if (i % 10 == 9) far.clone() else noise(), i % 10)
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val drifted = SimilarityQueries.simIvfPqDriftGuard(spark, dir).head
    assert(drifted.getAs[Boolean]("retrain_needed"),
      s"planted drifted delta did not trip the retrain guard: $drifted")
  }
}
