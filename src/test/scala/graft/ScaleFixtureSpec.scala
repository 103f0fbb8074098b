package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.ScaleFixture._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The invariants every scale gate relies on, for each [[ScaleFixture]]
  * kind at factor 3 over sf0.001: the factor× table holds factor × the 1×
  * rows, copy ids are disjoint, stripping copy t's salt gives back the 1×
  * rows as a multiset, and the embedding sign flip preserves dot products.
  * A gate that reads ~factor× growth as linear is only as honest as these. */
class ScaleFixtureSpec extends SparkSpec {

  private val factor = 3
  private val dir1 = tempDir("graft-fixture1")
  private val dirN = tempDir("graft-fixture3")

  override def beforeAll(): Unit = {
    super.beforeAll()
    write(spark, sfDir, dir1, dirN, factor,
      Seq(Docs, Embeddings, DenseEmbeddings, Facts, Ewj, Tri, Fz, Kml))
  }

  private def one(path: String): DataFrame = spark.read.parquet(s"$dir1/$path")
  private def many(path: String): DataFrame = spark.read.parquet(s"$dirN/$path")

  private val hot = col("p_name").endsWith(" zzcommonblock")

  /** Copy t of a row whose key `key` moved by t·`offset`. */
  private def copyOf(key: String, offset: Long): Column =
    call_function("div", col(key), lit(offset))

  /** `s` without its `suffix`, or null when it does not end with it. */
  private def unsuffix(s: Column, suffix: Column): Column =
    when(s.endsWith(suffix), s.substr(lit(1), length(s) - length(suffix)))

  /** Each word of `text` stripped of copy `t`'s word tag. */
  private def untagWords(text: Column, t: Column): Column =
    concat_ws(" ", transform(split(text, " "), w => unsuffix(w, format_string("q%d", t))))

  /** `stripped` is the 1× frame `base` repeated factor times, as a multiset. */
  private def assertCopies(stripped: DataFrame, base: DataFrame): Unit = {
    val want = base.crossJoin(spark.range(factor).select(lit(0).as("copy"))).drop("copy")
    val got = stripped.select(base.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("each kind's factor× table holds factor × its 1× rows; fz adds 20·factor hot names") {
    for (path <- Seq("documents.parquet", "embeddings.parquet", "semdd/embeddings.parquet",
        "orders.parquet", "lineitem.parquet", "events.parquet", "ewj/events.parquet",
        "tri/lineitem.parquet", "kml/embeddings.parquet"))
      assert(many(path).count() == factor * one(path).count(), path)
    for (dim <- Seq("region", "nation", "customer", "supplier", "part"))
      assert(many(s"$dim.parquet").count() == one(s"$dim.parquet").count(), dim)
    val (p1, pN) = (one("fz/part.parquet"), many("fz/part.parquet"))
    assert(p1.filter(hot).count() == 20 && pN.filter(hot).count() == 20 * factor)
    assert(pN.filter(!hot).count() == factor * p1.filter(!hot).count())
  }

  test("copy ids are disjoint") {
    // Each copy holds the 1× distinct ids moved by its offset, so the
    // copies are disjoint exactly when the factor× table holds factor ×
    // the 1× distinct ids.
    def distinctIds(df: DataFrame, c: String) = df.select(c).distinct().count()
    for ((path, key) <- Seq("documents.parquet" -> "doc_id", "embeddings.parquet" -> "vec_id",
        "semdd/embeddings.parquet" -> "vec_id", "orders.parquet" -> "o_orderkey",
        "lineitem.parquet" -> "l_orderkey", "events.parquet" -> "event_id",
        "ewj/events.parquet" -> "event_id", "tri/lineitem.parquet" -> "l_orderkey",
        "tri/lineitem.parquet" -> "l_partkey"))
      assert(distinctIds(many(path), key) == factor * distinctIds(one(path), key), s"$path $key")
    val (p1, pN) = (one("fz/part.parquet"), many("fz/part.parquet"))
    assert(distinctIds(pN.filter(!hot), "p_partkey") ==
      factor * distinctIds(p1.filter(!hot), "p_partkey"))
    assert(distinctIds(pN, "p_partkey") == pN.count())
    assert(distinctIds(many("kml/embeddings.parquet"), "vec_id") ==
      many("kml/embeddings.parquet").count())
  }

  test("stripping copy t's word tags and id offsets gives back the 1× rows") {
    val docT = copyOf("doc_id", DocOffset)
    assertCopies(many("documents.parquet")
      .withColumn("text", untagWords(col("text"), docT))
      .withColumn("doc_id", col("doc_id") - docT * DocOffset), one("documents.parquet"))
    val partT = copyOf("p_partkey", DocOffset)
    assertCopies(many("fz/part.parquet").filter(!hot)
      .withColumn("p_name", untagWords(col("p_name"), partT))
      .withColumn("p_partkey", col("p_partkey") - partT * DocOffset),
      one("fz/part.parquet").filter(!hot))
    def unkeyed(df: DataFrame, key: String, others: String*) =
      (key +: others).foldLeft(df.withColumn("t", copyOf(key, KeyOffset)))((d, c) =>
        d.withColumn(c, col(c) - col("t") * KeyOffset))
    assertCopies(unkeyed(many("orders.parquet"), "o_orderkey"), one("orders.parquet"))
    assertCopies(unkeyed(many("lineitem.parquet"), "l_orderkey"), one("lineitem.parquet"))
    assertCopies(unkeyed(many("tri/lineitem.parquet"), "l_orderkey", "l_partkey"),
      one("tri/lineitem.parquet"))
    assertCopies(unkeyed(many("events.parquet"), "event_id")
      .withColumn("event_type", unsuffix(col("event_type"), format_string("_q%d", col("t")))),
      one("events.parquet"))
    assertCopies(unkeyed(many("ewj/events.parquet"), "event_id")
      .withColumn("ts", col("ts") - col("t") * EpochOffset),
      one("ewj/events.parquet"))
  }

  test("the sign flip preserves every pair's dot product: copy 2 equals copy 0") {
    for ((path, offset) <- Seq("embeddings.parquet" -> EmbeddingOffset,
        "semdd/embeddings.parquet" -> one("semdd/embeddings.parquet").count())) {
      def copy(t: Long) = many(path)
        .filter(col("vec_id") >= t * offset && col("vec_id") < (t + 1) * offset)
        .select((col("vec_id") - t * offset).as("id"), col("embedding"))
      def dots(t: Long) = {
        val c = copy(t)
        c.as("a").join(c.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("i"), col("b.id").as("j"),
            aggregate(zip_with(col("a.embedding"), col("b.embedding"), (x, y) => x * y),
              lit(0.0f), (acc, p) => acc + p).as("dot"))
      }
      val n = one(path).count()
      val (d0, d2) = (dots(0), dots(2))
      assert(d0.count() == n * (n - 1) / 2 && d0.exceptAll(d2).isEmpty && d2.exceptAll(d0).isEmpty,
        path)
      // The flip is not the identity: copy 2's vectors differ from copy 0's.
      assert(copy(2).exceptAll(copy(0)).count() == n, path)
    }
  }

  test("the per-copy salting is written only in ScaleFixture.scala") {
    // Split so this file does not match itself.
    val salting = ("""lit\(s?"q""" + "|1L << " + "22").r
    val paths = Files.walk(Paths.get("src"))
    val writers =
      try paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          salting.findFirstIn(Files.readString(p)).isDefined)
        .map((p: Path) => p.getFileName.toString).toSeq.sorted
      finally paths.close()
    assert(writers == Seq("ScaleFixture.scala"),
      "salt scale copies through ScaleFixture, the one writer the gates share")
  }
}
