package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.Metrics
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt): the
  * LocalSpark configuration the harness mains time, at local[4]. */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.builder("4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sfDir: String = TestSpark.sfDir

  /** Runs `body` in one [[Metrics.measure]] window: its result and the
    * window's LoopEnd records of `loop`, in posting order. */
  def loopEnds[T](loop: String)(body: => T): (T, Seq[Metrics.LoopEnd]) = {
    val (out, m) = Metrics.measure(spark)(body)
    (out, m.loops.filter(_.loop == loop))
  }
}
