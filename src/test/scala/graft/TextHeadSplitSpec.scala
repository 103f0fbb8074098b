package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQueries
import graft.sources.Tables

/** Pins the two properties of textTokenRarity's corpus-derived head/tail
  * vocabulary split (round-10 verdict #5): the split is a pure
  * performance partition (ANY threshold yields the identical result), and
  * the head honors its unconditional √V·lnV mass bound on real data.
  */
class TextHeadSplitSpec extends SparkSpec {

  private def rows(scale: Double): Seq[String] =
    TextQueries.textTokenRarityHeadScaled(scale)(spark, sfDir)
      .collect().map(_.toString).toSeq

  test("head/tail split equivalence: scales 0.01, 1 and 100 give bit-identical results") {
    val declared = rows(1.0)
    assert(declared.nonEmpty)
    // 0.01 empties the head (everything shuffle-joins), 100 swallows most
    // of the vocabulary into it — three very different physical splits,
    // one result.
    assert(rows(0.01) == declared, "near-empty head changed the result")
    assert(rows(100.0) == declared, "near-total head changed the result")
  }

  test("the derived head honors the sqrt(V)*ln(V) mass bound") {
    val freq = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val v = freq.length.toDouble
    val toks = freq.map(_._2).sum.toDouble
    val headSize = freq.count { case (_, cf) =>
      cf.toDouble * math.log(v) * math.sqrt(v) >= toks
    }
    // The mass argument: head cfs each exceed T/(lnV*sqrtV) and sum to
    // <= T, so |head| <= sqrtV*lnV for ANY distribution. (The fixture's
    // ~40-word vocabulary is near-UNIFORM, so its head is legitimately
    // empty — a word needs ~1.7× the mean frequency to clear the cut;
    // the non-empty head arm is exercised on the planted Zipf corpus
    // below, where the distribution actually has a head.)
    assert(headSize <= math.sqrt(v) * math.log(v) + 1e-9,
      s"head $headSize exceeds bound ${math.sqrt(v) * math.log(v)}")
  }

  test("planted Zipf corpus: the head is non-empty, bounded, and the split still can't change results") {
    import spark.implicits._
    // 40 docs over a 64-word vocabulary where word w_r appears ~60/r
    // times corpus-wide (a real Zipf draw, unlike the near-uniform
    // fixture vocabulary): the top ranks clear cf·lnV·√V ≥ T easily.
    val dir = tempDir("graft-zipf")
    val docs = (0 until 40).map { d =>
      val text = (1 to 64).flatMap { r =>
        val reps = 60 / r
        // deterministic spread: doc d carries its share of rank r's mass
        Seq.fill(if (d < reps % 40) reps / 40 + 1 else reps / 40)(s"w$r")
      }.mkString(" ")
      (d.toLong, text, "en", s"s${d % 4}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cf"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val v = freq.length.toDouble
    val toks = freq.map(_._2).sum.toDouble
    val headSize = freq.count { case (_, cf) =>
      cf.toDouble * math.log(v) * math.sqrt(v) >= toks
    }
    assert(headSize >= 1, "Zipf head empty: the broadcast arm is untested")
    assert(headSize <= math.sqrt(v) * math.log(v) + 1e-9)
    val declared = TextQueries.textTokenRarityHeadScaled(1.0)(spark, dir)
      .collect().map(_.toString).toSeq
    val noHead = TextQueries.textTokenRarityHeadScaled(0.001)(spark, dir)
      .collect().map(_.toString).toSeq
    assert(declared.nonEmpty && noHead == declared)
  }
}
