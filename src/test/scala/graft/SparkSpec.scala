package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftx.Metrics
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt): the
  * LocalSpark configuration the harness mains time, at local[4]. Its
  * warehouse is a temp dir removed at JVM exit. */
object TestSpark {
  private val warehouse = Files.createTempDirectory("graft-wh").toString
  sys.addShutdownHook(LocalFiles.rmTree(warehouse))

  lazy val spark: SparkSession = LocalSpark.builder("4")
    .config("spark.sql.warehouse.dir", warehouse)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sfDir: String = TestSpark.sfDir

  private val tempDirs = new ConcurrentLinkedQueue[String]()

  /** A fresh temp dir named `prefix…`, removed with its contents after
    * the suite. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => LocalFiles.rmTree(d)) finally super.afterAll()

  /** Runs `body` with `spark.sql.shuffle.partitions` at `n`. */
  def withShufflePartitions[A](n: Int)(body: => A): A = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Every node of `p`, through AQE wrappers, query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case o => o.children
    }
    p +: (kids ++ p.subqueries).flatMap(planNodes)
  }

  /** Runs `body` in one [[Metrics.measure]] window: its result and the
    * window's LoopEnd records of `loop`, in posting order. */
  def loopEnds[T](loop: String)(body: => T): (T, Seq[Metrics.LoopEnd]) = {
    val (out, m) = Metrics.measure(spark)(body)
    (out, m.loops.filter(_.loop == loop))
  }
}
