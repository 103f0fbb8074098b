package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** LocalSpark is the only place a session is configured: Bench, Verify,
  * Inspect, VolumeProbe and the specs all build from it, so what is
  * verified, inspected and gated is the engine that is timed. A second
  * builder call — a scratch main, a spec with its own confs — would
  * quietly measure another program (another shuffle writer, another
  * codegen cache). Pure text, like PlansFreshnessSpec: no session,
  * milliseconds. */
class SessionBuilderSpec extends AnyFunSuite {

  // Split so this file does not match itself.
  private val needle = "SparkSession" + ".builder"

  private def callers(root: String): Seq[String] = {
    val paths = Files.walk(Paths.get(root))
    try paths.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map((p: Path) => Paths.get(root).relativize(p).toString).toSeq.sorted
    finally paths.close()
  }

  test("only LocalSpark builds a session under src/main") {
    assert(callers("src/main/scala") == Seq("graft/LocalSpark.scala"),
      "build the session from LocalSpark.builder(cpus) and add confs to it")
  }

  test("no spec builds its own session") {
    assert(callers("src/test/scala").isEmpty,
      "specs share TestSpark.spark, which is LocalSpark.builder(\"4\")")
  }
}
