package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftx.{Metrics, Sessions}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Graft

/** JVM side of the benchmark: one closed-loop client running one operation
  * at a time on `graft.LocalSpark.session(cpus)`.
  *
  * Arguments are `key=value` pairs:
  *   workload=library|kv_store  data=<parquet dir>  out=<dir>
  *   seconds=<measured seconds>  seed=<n>  trace=0|1  cpus=<n>
  *   queries=<comma list, already in run order>  (library)
  *   kv=<N,K,B,batch,reads,deletes,skew>           (kv_store)
  *
  * Every phase writes plain records; `perfbench/run.py` turns them into
  * metrics. The run is:
  *   1. set-up: session start, catalog build, then one cold pass whose
  *      outputs are written for checking (queries to parquet under
  *      `out/check/<name>`, kv results compared with goldens computed here
  *      in plain Scala). All of it is charged to set-up.
  *   2. one untimed warm-up pass, then timed passes with the `noop` sink
  *      until `seconds` have elapsed.
  *      With trace=1 untraced and traced passes alternate, so the
  *      overhead is measured in one JVM.
  *
  * Every op runs under the job group `<workload>/<pass>/<op>`; a
  * benchmark-owned SparkListener sums task metrics by group. Tracing adds
  * spans (op, build, plan phases, job, stage), a QueryExecutionListener for
  * plan phases and executed plans, codegen counters and snapshot bytes.
  * The program itself is not instrumented: every number comes from timing
  * the benchmark's own calls or from Spark's public listener/plan APIs. */
object BenchMain {

  // ---- recording -------------------------------------------------------

  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var deserMs = 0L; var resultSerMs = 0L; var schedDelayMs = 0L
    var bytesRead = 0L; var recordsRead = 0L
    var shWriteBytes = 0L; var shWriteRecords = 0L; var shWriteNs = 0L
    var shReadBytes = 0L; var shFetchWaitMs = 0L
    var spillDisk = 0L; var spillMem = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double)

  /** Sums task metrics per job group; with `tracing` on, also keeps job and
    * stage spans. Listener-bus thread writes, main thread reads only after
    * `Metrics.flushListeners`. */
  final class Recorder extends SparkListener {
    @volatile var tracing = false
    val byGroup = mutable.HashMap.empty[String, Agg]
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val jobGroup = mutable.HashMap.empty[Int, String]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    // (group, kind, id, parentJob, startMs, endMs)
    val spans = mutable.ArrayBuffer.empty[(String, String, Int, Int, Long, Long)]

    private def agg(g: String) = byGroup.getOrElseUpdate(g, new Agg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach { s => stageGroup(s.stageId) = g; stageJob(s.stageId) = e.jobId }
      agg(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val g = jobGroup.getOrElse(e.jobId, "-")
      if (tracing) spans += ((g, "job", e.jobId, -1, jobStart.getOrElse(e.jobId, e.time), e.time))
      jobGroup.remove(e.jobId); jobStart.remove(e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val g = stageGroup.getOrElse(si.stageId, "-")
      val a = agg(g)
      a.stages += 1
      for (s <- si.submissionTime; c <- si.completionTime) {
        a.stageIntervals += ((s, c))
        if (tracing) spans += ((g, "stage", si.stageId, stageJob.getOrElse(si.stageId, -1), s, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m == null) return
      val a = agg(stageGroup.getOrElse(e.stageId, "-"))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.resultSerMs += m.resultSerializationTime
      val ti = e.taskInfo
      a.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.spillMem += m.memoryBytesSpilled
    }
  }

  /** Captures every finished SQL execution (plan phases, executed plan). */
  final class QeRecorder extends QueryExecutionListener {
    @volatile var on = false
    val done = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) done.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = if (on) done.add(qe)
    def drain(): Seq[QueryExecution] = {
      val b = Seq.newBuilder[QueryExecution]
      var q = done.poll()
      while (q != null) { b += q; q = done.poll() }
      b.result()
    }
  }

  // ---- JSON ------------------------------------------------------------

  def q(s: String): String = graft.Jsons.q(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  // ---- the harness -------------------------------------------------------

  final class Harness(val spark: SparkSession, val workload: String, val trace: Boolean) {
    val sc: SparkContext = spark.sparkContext
    val rec = new Recorder
    val qeRec = new QeRecorder
    sc.addSparkListener(rec)
    if (trace) spark.listenerManager.register(qeRec)
    private val baseNs = System.nanoTime()
    private val baseEpoch = System.currentTimeMillis() / 1e3
    def epoch(ns: Long): Double = baseEpoch + (ns - baseNs) / 1e9

    val opRecords = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[Span]
    var failures = 0
    var attempted = 0
    private var opId = 0
    private var spanId = 0
    private var tracingOn = false
    def tracing: Boolean = tracingOn
    def tracing_=(on: Boolean): Unit = { tracingOn = on; rec.tracing = on; qeRec.on = on }

    private def nextSpan() = { spanId += 1; spanId }

    private def storageBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    /** Runs one op: `build` is timed as its own span (query construction),
      * `act` is the action on what it built. Returns the act's result. */
    def op[A, B](pass: Int, name: String, kind: String)(build: => A)(act: A => B)
        (check: B => Option[String]): Option[B] = {
      opId += 1
      val id = opId
      val group = s"$workload/$pass/$name"
      groupOp(group) = id
      sc.setJobGroup(group, group, interruptOnCancel = false)
      attempted += 1
      val cg0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      if (tracing) { qeRec.drain(); Sessions.beginPlanCapture() }
      var buildNs = 0L
      var err: Option[String] = None
      val t0 = System.nanoTime()
      val res: Option[B] =
        try {
          val a = build
          buildNs = System.nanoTime() - t0
          val b = act(a)
          Some(b)
        } catch { case scala.util.control.NonFatal(e) => err = Some(e.toString); None }
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      if (err.isEmpty) err = res.flatMap(check)
      if (err.isDefined) {
        failures += 1
        System.err.println(s"[perfbench] FAIL $name (pass $pass): ${err.get}")
      }
      System.err.println(f"[perfbench] pass $pass%d $name%s ${(t1 - t0) / 1e9}%.3f s")
      val fields = mutable.ArrayBuffer[(String, String)](
        "id" -> id.toString, "pass" -> pass.toString, "name" -> q(name), "kind" -> q(kind),
        "group" -> q(group), "traced" -> tracing.toString,
        "start" -> num(epoch(t0)), "wall_s" -> num((t1 - t0) / 1e9),
        "build_s" -> num(buildNs / 1e9), "ok" -> err.isEmpty.toString,
        "error" -> err.map(q).getOrElse("null"))
      if (tracing) {
        val snapPlans = Sessions.endPlanCapture()
        Metrics.flushListeners(sc)
        val qes = qeRec.drain()
        val opSpan = Span(nextSpan(), 0, id, "op:" + name, epoch(t0), epoch(t1))
        spans += opSpan
        opSpanId(id) = opSpan.id
        if (buildNs > 0)
          spans += Span(nextSpan(), opSpan.id, id, "build", epoch(t0), epoch(t0 + buildNs))
        var an, opt, pl = 0.0
        qes.foreach { qe =>
          qe.tracker.phases.foreach { case (ph, s) =>
            val d = (s.endTimeMs - s.startTimeMs) / 1e3
            ph match {
              case "analysis" => an += d
              case "optimization" => opt += d
              case "planning" => pl += d
              case _ =>
            }
            spans += Span(nextSpan(), opSpan.id, id, "plan." + ph, s.startTimeMs / 1e3, s.endTimeMs / 1e3)
          }
        }
        val plans: Seq[SparkPlan] = qes.flatMap(executedPlan) ++ snapPlans ++ newCachedPlans(qes)
        val cached = storageBytes()
        val r0 = System.nanoTime()
        Sessions.releaseSnapshots()
        val releaseS = (System.nanoTime() - r0) / 1e9
        fields ++= Seq(
          "plan_analysis_s" -> num(an), "plan_optimization_s" -> num(opt),
          "plan_planning_s" -> num(pl), "executions" -> qes.size.toString,
          "codegen_compile_s" -> num((CodeGenerator.compileTime - cg0) / 1e9),
          "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0).toString,
          "join_output_rows" -> Metrics.joinOutputRows(plans).toString,
          "snapshot_cached_bytes" -> cached.toString,
          "snapshot_release_s" -> num(releaseS))
      } else Sessions.releaseSnapshots()
      opRecords += obj(fields.toSeq)
      res
    }

    /** Plans of in-memory relations (`Graft.cache`) first scanned by these
      * executions: their joins ran when the cache was built, under a plan
      * no executed plan reaches. Each is counted once per JVM. */
    private val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    private def newCachedPlans(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def walk(p: SparkPlan): Seq[SparkPlan] = (p match {
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case o => o.children.flatMap(walk)
      }) ++ p.subqueries.flatMap(walk)
      qes.flatMap(executedPlan).flatMap(walk).filter(seenCached.add)
    }

    /** The executed plan, or None for an execution that failed (asking a
      * failed execution for its plan rethrows the failure, which is already
      * counted against its op). */
    private def executedPlan(qe: QueryExecution): Option[SparkPlan] =
      scala.util.Try(qe.executedPlan).toOption

    /** Group-keyed task aggregates and job/stage spans, written at the end. */
    def groupsJson(): String = {
      Metrics.flushListeners(sc)
      rec.synchronized {
        rec.byGroup.toSeq.map { case (g, a) =>
          q(g) + ":" + obj(Seq(
            "jobs" -> a.jobs.toString, "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
            "cpu_s" -> num(a.cpuNs / 1e9), "run_s" -> num(a.runMs / 1e3), "gc_s" -> num(a.gcMs / 1e3),
            "deser_s" -> num(a.deserMs / 1e3), "result_ser_s" -> num(a.resultSerMs / 1e3),
            "sched_delay_s" -> num(a.schedDelayMs / 1e3),
            "bytes_read" -> a.bytesRead.toString, "records_read" -> a.recordsRead.toString,
            "shuffle_write_bytes" -> a.shWriteBytes.toString,
            "shuffle_write_records" -> a.shWriteRecords.toString,
            "shuffle_write_s" -> num(a.shWriteNs / 1e9),
            "shuffle_read_bytes" -> a.shReadBytes.toString,
            "shuffle_fetch_wait_s" -> num(a.shFetchWaitMs / 1e3),
            "spill_disk_bytes" -> a.spillDisk.toString, "spill_memory_bytes" -> a.spillMem.toString,
            "stage_intervals" -> a.stageIntervals.map { case (s, e) => s"[${num(s / 1e3)},${num(e / 1e3)}]" }
              .mkString("[", ",", "]")))
        }.mkString("{", ",", "}")
      }
    }

    def spansJson(): String = {
      val listenerSpans = rec.synchronized(rec.spans.toSeq)
      val jobSpanIds = mutable.HashMap.empty[Int, Int]
      val out = mutable.ArrayBuffer.empty[Span] ++ spans
      def opOf(g: String) = groupOp.getOrElse(g, 0)
      // jobs first so stages can point at them
      listenerSpans.filter(_._2 == "job").foreach { case (g, _, jid, _, s, e) =>
        val sid = nextSpan()
        jobSpanIds(jid) = sid
        out += Span(sid, opSpanId.getOrElse(opOf(g), 0), opOf(g), s"job:$jid", s / 1e3, e / 1e3)
      }
      listenerSpans.filter(_._2 == "stage").foreach { case (g, _, stid, jid, s, e) =>
        val parent = jobSpanIds.getOrElse(jid, opSpanId.getOrElse(opOf(g), 0))
        out += Span(nextSpan(), parent, opOf(g), s"stage:$stid", s / 1e3, e / 1e3)
      }
      out.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> q(s.name), "start" -> num(s.start), "end" -> num(s.end)))).mkString("[", ",", "]")
    }

    // job group -> op id (a group is unique per pass and op name); op id -> its span
    private val groupOp = mutable.HashMap.empty[String, Int]
    private val opSpanId = mutable.HashMap.empty[Int, Int]

    def storageLeft(): Long = { Metrics.flushListeners(sc); storageBytes() }
  }

  // ---- workloads --------------------------------------------------------

  /** library: run declared queries by name. */
  def queryPass(h: Harness, data: String, names: Seq[String], pass: Int, checkDir: Option[String]): Unit =
    names.foreach { n =>
      h.op(pass, n, "query")(graft.SparkEntry.queries(n)(h.spark, data)) { df =>
        checkDir match {
          case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n")
          case None => df.write.mode("overwrite").format("noop").save()
        }
      }(_ => None)
    }

  /** kv_store: hpmr's surface through graft.core.Graft, String keys. */
  final case class KvSpec(n: Long, k: Int, rounds: Int, batch: Int, reads: Int, deletes: Int, skew: Double)

  final class KvGolden(spec: KvSpec, seed: Long) extends Serializable {
    /** Stringified-int key of range element i; `skew` > 1 concentrates
      * pairs on low key ids (u^skew over a seed-mixed uniform u). */
    def keyId(i: Long): Int = {
      val u = (mix(i ^ (seed * 0x9E3779B97F4A7C15L)) >>> 11) / (1L << 53).toDouble
      math.min(spec.k - 1, (math.pow(u, spec.skew) * spec.k).toInt)
    }
    def value(i: Long): Long = (i % 1000L) + 1L
    def rng(stream: Long) = new scala.util.Random(mix(seed * 31L + stream))
  }

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def kvPass(h: Harness, spec: KvSpec, seed: Long, pass: Int, full: Boolean): Unit = {
    val spark = h.spark
    import spark.implicits._
    val g = new KvGolden(spec, seed)
    // golden store, plain Scala
    val gold = mutable.HashMap.empty[String, Long]
    var i = 0L
    while (i < spec.n) {
      val key = g.keyId(i).toString
      gold(key) = gold.getOrElse(key, 0L) + g.value(i); i += 1
    }
    def hashIn(k: String, v: Long): Unit = if (full) kvInputHash = mix(kvInputHash ^ (k.hashCode * 1000003L + v))
    if (full) gold.toSeq.sortBy(_._1).foreach { case (k, v) => hashIn(k, v) }
    def sameStore(ds: Dataset[(String, Long)]): Option[String] = {
      val got = ds.collect()
      if (got.length != gold.size) Some(s"store has ${got.length} keys, expected ${gold.size}")
      else got.find { case (k, v) => !gold.get(k).contains(v) }.map { case (k, v) =>
        s"key $k -> $v, expected ${gold.get(k)}" }
    }
    def countIs(n: Long) = (c: Long) => if (c == n) None else Some(s"count $c, expected $n")

    val seedN = spec.n
    var store: Dataset[(String, Long)] = null
    h.op(pass, "ingest", "ingest") {
      Graft.cache(Graft.mapreduceRange[String, Long](Graft.fromRange(spark, 0L, seedN),
        (j: Long) => Iterator.single((g.keyId(j).toString, g.value(j))), _ + _))
    } { s => store = s; Graft.countKeys(s) }(countIs(gold.size.toLong))
    if (store == null) return // ingest failed and is counted
    if (full) { val e = sameStore(store); if (e.isDefined) fail(h, "ingest", e.get) }
    h.op(pass, "count", "count")(store)(Graft.countKeys(_))(countIs(gold.size.toLong))

    for (r <- 0 until spec.rounds) {
      val rnd = g.rng(1000L * pass + r)
      val existing = gold.keysIterator.toArray.sortBy(_.toInt)
      val olds = Seq.fill(spec.batch / 2)(existing(rnd.nextInt(existing.length)))
      val news = Seq.tabulate(spec.batch - spec.batch / 2)(j => (spec.k + 1_000_000 * (r + 1) + j).toString)
      val batch = (olds ++ news).map(k => (k, (rnd.nextInt(100) + 1).toLong))
      batch.foreach { case (k, v) => gold(k) = gold.getOrElse(k, 0L) + v; hashIn(k, v) }
      val prev = store
      h.op(pass, s"put$r", "put") {
        Graft.cache(Graft.put(store, spark.createDataset(batch), (a: Long, b: Long) => a + b))
      } { s => store = s; Graft.countKeys(s) }(countIs(gold.size.toLong))
      if (prev != null) Graft.clear(prev)
    }
    if (full && store != null) { val e = sameStore(store); if (e.isDefined) fail(h, "put", e.get) }

    val rnd = g.rng(7000L + pass)
    val keys = gold.keysIterator.toArray.sortBy(_.toInt)
    // the checked cold pass runs a fifth of the reads: every read of every
    // pass is compared with the golden anyway, so the cold pass only has to
    // touch the point-op path once
    for (j <- 0 until (if (full) spec.reads / 5 else spec.reads)) {
      val present = j % 2 == 0
      val key = if (present) keys(rnd.nextInt(keys.length)) else (spec.k + 500_000 + rnd.nextInt(400_000)).toString
      if ((j / 2) % 2 == 0)
        h.op(pass, s"get$j", "get")(store)(Graft.get(_, key, -1L)) { v =>
          val want = gold.getOrElse(key, -1L)
          if (v == want) None else Some(s"get($key) = $v, expected $want")
        }
      else
        h.op(pass, s"has$j", "has")(store)(Graft.has(_, key)) { v =>
          if (v == present) None else Some(s"has($key) = $v, expected $present")
        }
    }

    val dels = Seq.fill(spec.deletes)(keys(rnd.nextInt(keys.length))).distinct
    dels.foreach { k => gold.remove(k); hashIn(k, -1L) }
    val prev = store
    h.op(pass, "remove", "remove") {
      Graft.cache(Graft.remove(store, spark.createDataset(dels)))
    } { s => store = s; Graft.countKeys(s) }(countIs(gold.size.toLong))
    if (prev != null) Graft.clear(prev)
    h.op(pass, "distinct", "distinct")(store)(s => Graft.distinctKeys(s).count())(countIs(gold.size.toLong))
    if (full && store != null) { val e = sameStore(store); if (e.isDefined) fail(h, "remove", e.get) }
    if (store != null) Graft.clear(store)
  }

  /** Content hash of the kv inputs (ingest pairs, batches, deleted keys),
    * folded on the checked pass. */
  var kvInputHash = 0L

  def fail(h: Harness, what: String, msg: String): Unit = {
    h.failures += 1; h.attempted += 1
    System.err.println(s"[perfbench] FAIL check after $what: $msg")
  }

  // ---- main ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = o("workload")
    val data = o("data")
    val out = o("out")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val queries = o.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      obj(queries.map(n => n -> q(graft.SparkEntry.oracleSql(n)))).getBytes(StandardCharsets.UTF_8))

    val spark = graft.LocalSpark.session(o("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis() / 1e3
    val h = new Harness(spark, workload, trace)

    // graft.sources first touch: the catalog (schema of every table).
    val c0 = System.nanoTime()
    if (queries.nonEmpty)
      graft.sources.Tables.names.foreach(t => graft.sources.Tables.table(spark, data, t).schema)
    val catalogS = (System.nanoTime() - c0) / 1e9

    val kv = o.get("kv").map { s =>
      val a = s.split(",")
      KvSpec(a(0).toLong, a(1).toInt, a(2).toInt, a(3).toInt, a(4).toInt, a(5).toInt, a(6).toDouble)
    }
    val check = s"$out/check"

    def pass(p: Int, checking: Boolean): Unit = workload match {
      case "kv_store" => kvPass(h, kv.get, seed, p, full = checking)
      case _ => queryPass(h, data, queries, p, if (checking) Some(check) else None)
    }

    // 1. set-up: cold first pass, outputs checked
    pass(0, checking = true)
    val setupEnd = System.currentTimeMillis() / 1e3
    // one untimed warm-up pass: the JIT is still compiling Spark's
    // planning and scheduling paths after the cold pass
    pass(-1, checking = false)

    // 2. timed passes
    val passes = mutable.ArrayBuffer.empty[String]
    def timedPasses(budget: Double, traced: Boolean, first: Int): Int = {
      h.tracing = traced
      val t0 = System.nanoTime()
      var p = first
      while (p == first || (System.nanoTime() - t0) / 1e9 < budget) {
        pass(p, checking = false)
        passes += obj(Seq("pass" -> p.toString, "traced" -> traced.toString,
          "storage_left_bytes" -> h.storageLeft().toString))
        p += 1
      }
      p
    }
    if (trace) {
      // untraced and traced passes alternate (at least U, T, U) so the
      // JIT's warm-up trend cancels out of the overhead estimate
      val t0 = System.nanoTime()
      var p = 1
      while (p <= 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        p = timedPasses(0, traced = p % 2 == 0, first = p)
      }
    } else timedPasses(seconds, traced = false, first = 1)

    val confs = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) }
    val json = obj(Seq(
      "workload" -> q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "jvm_start" -> num(jvmStart), "session_ready" -> num(sessionReady),
      "setup_end" -> num(setupEnd), "catalog_build_s" -> num(catalogS),
      "kv_input_hash" -> q(java.lang.Long.toHexString(kvInputHash)),
      "attempted" -> h.attempted.toString, "failed" -> h.failures.toString,
      "confs" -> obj(confs),
      "passes" -> passes.mkString("[", ",", "]"),
      "ops" -> h.opRecords.mkString("[", ",", "]"),
      "groups" -> h.groupsJson(),
      "spans" -> (if (trace) h.spansJson() else "[]")))
    Files.write(Paths.get(s"$out/result.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
