package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** LocalSpark is the only place a session is configured: Bench, Verify,
  * Inspect, VolumeProbe and the specs all build from it, so what is
  * verified, inspected and gated is the engine that is timed. A second
  * builder call — a scratch main, a spec with its own confs — would
  * quietly measure another program (another shuffle writer, another
  * codegen cache). The same holds for measurement: `Metrics.measure` is
  * the one window, so no other main file registers a listener, and loop
  * outcomes travel in its LoopEnd records, not in global fields. Pure
  * text, like PlansFreshnessSpec: no session, milliseconds. */
class SessionBuilderSpec extends AnyFunSuite {

  // Split so this file does not match itself.
  private val builder = "SparkSession" + "\\.builder"

  /** Files under `root` whose text matches the regex `needle`. */
  private def callers(root: String, needle: String = builder): Seq[String] = {
    val re = needle.r
    val paths = Files.walk(Paths.get(root))
    try paths.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        re.findFirstIn(Files.readString(p)).isDefined)
      .map((p: Path) => Paths.get(root).relativize(p).toString).toSeq.sorted
    finally paths.close()
  }

  test("only LocalSpark builds a session under src/main") {
    assert(callers("src/main/scala") == Seq("graft/LocalSpark.scala"),
      "build the session from LocalSpark.builder(cpus) and add confs to it")
  }

  test("only graftx/Metrics.scala registers a listener under src/main") {
    assert(callers("src/main/scala", "addSparkListener|listenerManager\\.register") ==
      Seq("org/apache/spark/sql/graftx/Metrics.scala"),
      "measure inside Metrics.measure instead of registering a listener")
  }

  test("no file under src/main keeps loop state in a @volatile var last…") {
    assert(callers("src/main/scala",
      "@volatile\\s+(private\\[\\w+\\]\\s+)?var\\s+last").isEmpty,
      "post a Metrics.LoopEnd instead of setting a global")
  }

  test("no spec builds its own session") {
    assert(callers("src/test/scala").isEmpty,
      "specs share TestSpark.spark, which is LocalSpark.builder(\"4\")")
  }
}
