package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.util.control.NonFatal
import scala.util.matching.Regex

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftx.{Metrics, Sessions}

/** Plan and stage evidence for the declared queries, taken on the
  * [[LocalSpark]] session Bench times — so the plans shown are the
  * benched plans. One mode per evidence format:
  *
  *  - `plans [outFile]` (default PLANS.md): the tree shape of every
  *    declared query's initial physical plan, one `## <name>` section
  *    each — the committed dump PlansFreshnessSpec checks. A catalog
  *    table's location prints as `[<warehouse>/<table>]`, so the dump
  *    does not depend on where the checkout lives.
  *  - `explain <outDir> <tag> [q1,q2,...]` (no list → every declared
  *    query): `.explain("formatted")` per query into
  *    `<outDir>/<query>_<tag>.txt` — PushedFilters, ReadSchema, join build
  *    sides, exchange specs — followed by the formatted plan of every
  *    snapshot child: a rewrite below a snapshot leaf is invisible in the
  *    parent's plan (round-18 verdict #5).
  *  - `stages <query> [reps]` (default 3 reps): each rep's stages from
  *    its [[Metrics.measure]] window, hog first — span, executor CPU,
  *    tasks, input records, shuffle read/write records, spill. Rep 1 is
  *    warm-up; its table is not printed. Span is submission→completion,
  *    not wall: concurrent stages overlap, so the span sum can exceed the
  *    rep wall (ADVICE r18).
  *
  * Env: SPARK_GRAFT_SF_DIR (required: the fixture dir; PLANS.md is
  * dumped from sf0.1), SPARK_GRAFT_CPUS (default 4). Run:
  * `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.Inspect plans"` or
  * `tools/run_probe.sh graft.Inspect <mode> ...`.
  *
  * Each query's snapshots are released before the next query builds. A
  * failed plan is caught as NonFatal only and recorded as "PLAN FAILED":
  * after an OOM or linkage error the JVM is broken, so Inspect dies
  * loudly rather than write plausible-looking sections from a broken
  * heap (the Bench.runOnce doctrine). */
object Inspect {
  private def usage(): Nothing = {
    System.err.println("usage: SPARK_GRAFT_SF_DIR=<fixture dir> Inspect " +
      "plans [outFile] | explain <outDir> <tag> [q1,q2,...] | stages <query> [reps]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val run: (SparkSession, String) => Unit = args.toSeq match {
      case Seq("plans", rest @ _*) =>
        plans(_, _, rest.headOption.getOrElse("PLANS.md"))
      case Seq("explain", outDir, tag, rest @ _*) =>
        val names = rest.headOption
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
        explain(_, _, outDir, tag, names)
      case Seq("stages", name, rest @ _*) =>
        stages(_, _, name, rest.headOption.map(_.toInt).getOrElse(3))
      case _ => usage()
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", usage())
    val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir) finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  /** `render` of query `name`'s frame, or "PLAN FAILED" on a NonFatal
    * error; the query's snapshots are released either way. */
  private def planText(spark: SparkSession, sfDir: String, name: String)(
      render: DataFrame => String): String = {
    val fn = query(name)
    try render(fn(spark, sfDir))
    catch { case NonFatal(e) => s"PLAN FAILED: $e" }
    finally Sessions.releaseSnapshots()
  }

  /** A catalog table's scan Location names the warehouse's absolute path
    * and is abbreviated at a length that depends on it; print it as
    * `[<warehouse>/<table>]`, the table taken from the scan's own name. */
  private def warehouseRelative(tree: String, warehouse: String): String =
    ("""(spark_catalog\.\w+\.(\w+)\[.*Location: \w+\(\d+ paths\))\[""" +
      Regex.quote(warehouse) + """/[^\]]*?(\]|\.\.\.)""").r
      .replaceAllIn(tree, m => Regex.quoteReplacement(s"${m.group(1)}[<warehouse>/${m.group(2)}]"))

  private def plans(spark: SparkSession, sfDir: String, out: String): Unit = {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val sb = new StringBuilder(
      "# PLANS — physical plans of the declared query inventory\n\n" +
      s"Generated by `graft.Inspect plans` against `$sfDir` on the `LocalSpark.session` " +
      s"configuration (`${spark.sparkContext.master}`, `spark.sql.shuffle.partitions=" +
      s"${spark.conf.get("spark.sql.shuffle.partitions")}`, AQE on — plans shown are\n" +
      "the initial physical plans; AQE may further coalesce/re-plan at runtime).\n")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val tree = warehouseRelative(
        planText(spark, sfDir, name)(_.queryExecution.executedPlan.toString), warehouse)
      sb.append(s"\n## $name\n\n```\n")
      // keep the tree shape; drop the verbose per-node detail sections
      sb.append(tree.linesIterator.takeWhile(_.nonEmpty).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"INSPECT wrote ${SparkEntry.queries.size} plans to $out")
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Sessions.beginPlanTextCapture()
      val text = planText(spark, sfDir, name)(
        _.queryExecution.explainString(FormattedMode))
      val snapTexts = Sessions.endPlanTextCapture()
      val full = text + snapTexts.zipWithIndex.map { case (t, i) =>
        s"\n\n=== snapshot child ${i + 1} (plan of the subtree materialized into the LogicalRDD leaf) ===\n$t"
      }.mkString
      val path = s"$outDir/${name}_$tag.txt"
      Files.writeString(Paths.get(path), full)
      println(s"wrote $path")
    }
  }

  private def stages(spark: SparkSession, sfDir: String, name: String,
      reps: Int): Unit = {
    val fn = query(name)
    def spanSec(si: StageInfo): Double =
      (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L) / 1e3
    def cpuSec(si: StageInfo): Double = si.taskMetrics.executorCpuTime / 1e9
    def fmt(si: StageInfo): String = {
      val m = si.taskMetrics
      String.format(Locale.ROOT, "%5d %7.2fs %7.2fs %5d %10d %10d %10d %8d  %s",
        Int.box(si.stageId), Double.box(spanSec(si)), Double.box(cpuSec(si)),
        Int.box(si.numTasks), Long.box(m.inputMetrics.recordsRead),
        Long.box(m.shuffleReadMetrics.recordsRead),
        Long.box(m.shuffleWriteMetrics.recordsWritten),
        Long.box(m.diskBytesSpilled), si.name.linesIterator.next().take(120))
    }

    for (rep <- 1 to reps) {
      val (wall, measured) =
        try Metrics.measure(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } finally Sessions.releaseSnapshots()
      val st = measured.stages
      println(f"%n=== $name rep $rep wall=$wall%.3fs stages=${st.size} " +
        f"cpuSum=${st.map(cpuSec).sum}%.3fs " +
        f"stageSpanSum=${st.map(spanSec).sum}%.3fs " +
        "(concurrent stages overlap; spanSum can exceed wall) ===")
      if (rep > 1) {
        println("stage    span     cpu  tasks      input   shufRead  shufWrite    spill  name")
        st.sortBy(-cpuSec(_)).take(30).foreach(si => println(fmt(si)))
      }
    }
  }
}
