package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.core.Tables
import org.apache.spark.perfbench.GroupMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: a fresh `local[nproc]` session fed by one closed-loop
  * client (the next operation starts when the previous one returns).
  *
  *  1. set-up, three times: session build plus a trivial `spark.range` job;
  *     the first is timed from JVM start, the third session is kept;
  *  2. the cold pass: every operation once, in the seeded order;
  *  3. the output check (untimed): every operation's fingerprint against the
  *     committed expected values;
  *  4. warm passes, each in its own seeded order, until `--seconds` have
  *     been measured;
  *  5. the live JVM heap after full GCs.
  *
  * On `dag_refresh` the cold pass is the full refresh into an empty
  * warehouse and each warm pass one incremental run (see [[Dag]]); the
  * check compares the full refresh's tables with the fingerprints and the
  * first incremental run's row counts with those its revision implies.
  *
  * With `--trace 1` the warm passes alternate untraced and traced, and the
  * traced ones tag every layer call with a Spark job group, so the listener
  * can file jobs, stages and tasks under it. The JSON result and the trace
  * are written to the files named by `--out` and `--trace-out`.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, raw: String, work: String, out: String, traceOut: String,
      expected: String, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("raw"), need("work"), need("out"),
      need("trace-out"),
      need("expected"), kv.get("record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.names.mkString(", ")}")
    new BenchRun(a).execute()
  }
}

final class BenchRun(a: Main.Args) {

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble
  private def nowMs: Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  // failures, named, against operations attempted
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val failedOps = mutable.HashSet.empty[String]

  // trace spans: id, parent, kind, name, pass, start, end (epoch ms)
  final case class Span(id: Int, parent: Int, kind: String, name: String, pass: Int,
                        start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.HashMap.empty[String, Int]
  private def span(parent: Int, kind: String, name: String, pass: Int,
                   start: Double, end: Double): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, pass, start, end)
    id
  }

  // seconds since JVM start at which each phase of the run ended
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private def phaseEnd(name: String): Unit =
    phases(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  // every sample of every operation, in pass order (cold first)
  private val opLog = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val loads = mutable.ArrayBuffer.empty[String]
  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  private var spark: SparkSession = _
  private val metrics = new GroupMetrics

  private def fail(op: String, e: Throwable): Unit = {
    failedOps += op
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
    failures += s"$op: ${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  /** Three set-ups; the first from JVM start, so it includes class loading.
    * Returns the samples in seconds.
    */
  private def setUp(): Seq[Double] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val first = newSession()
    val s1 = (System.currentTimeMillis() - jvmStart) / 1000.0
    first.stop()
    val s2 = { val t = System.nanoTime(); newSession().stop(); (System.nanoTime() - t) / 1e9 }
    val t = System.nanoTime()
    spark = newSession()
    val s3 = (System.nanoTime() - t) / 1e9
    spark.sparkContext.addSparkListener(metrics)
    Seq(s1, s2, s3)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def order(ops: Seq[String], pass: Int): Seq[String] =
    new scala.util.Random(a.seed * 7919L + pass).shuffle(ops)

  // ---- per-layer accumulation (traced passes) -------------------------

  /** Layer counters of one operation, or summed over a pass. */
  private final class Layers {
    val v = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, x: Double): Unit = v(k) = v(k) + x
    def max(k: String, x: Double): Unit = v(k) = math.max(v(k), x)
    def addExec(c: GroupMetrics#Counts): Unit = {
      add("jobs", c.jobs.toDouble); add("stages", c.stages.toDouble)
      add("tasks", c.tasks.toDouble); add("single_task_jobs", c.singleTaskJobs.toDouble)
      add("task_run_ms", c.taskRunMs.toDouble); add("task_cpu_ms", c.taskCpuMs.toDouble)
      add("gc_ms", c.gcMs.toDouble); add("shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
      add("spill_bytes", c.spillBytes.toDouble); add("input_bytes", c.inputBytes.toDouble)
      max("peak_exec_mem_bytes", c.peakExecMemBytes.toDouble)
    }
    def addAll(o: Layers): Unit = o.v.foreach { case (k, x) =>
      if (k == "peak_exec_mem_bytes") max(k, x) else add(k, x)
    }
  }

  /** Layer counters of each traced operation, by (pass, name). */
  private val opLayers = mutable.LinkedHashMap.empty[(Int, String), Layers]

  private def group(id: String): Unit =
    spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)

  /** Times the ten table accessors of `core.Tables` once (traced passes). */
  private def resolveTables(pass: Int, layers: Layers): Unit = {
    val g = s"$pass/tables"
    val t = Tables(spark, a.data)
    val s0 = nowMs
    group(g)
    try {
      t.region; t.nation; t.customer; t.supplier; t.part
      t.orders; t.lineitem; t.events; t.documents; t.embeddings
    } finally spark.sparkContext.clearJobGroup()
    val s1 = nowMs
    groupSpan(g) = span(0, "tables", "core.Tables", pass, s0, s1)
    metrics.drain(spark.sparkContext)
    layers.add("tables.resolve_ms", s1 - s0)
    layers.add("tables.resolve_jobs", metrics.group(g).jobs.toDouble)
  }

  // ---- serve workloads --------------------------------------------------

  /** One query: construct, then full materialization through the noop
    * sink. Returns the wall ms, or None when it failed.
    */
  private def serveOp(pass: Int, name: String, traced: Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"query $name is not in SparkEntry.queries"))
      if (!traced) noop(fn(spark, a.data))
      else {
        val base = s"$pass/$name"
        val s0 = nowMs
        group(s"$base/construct")
        val df = fn(spark, a.data)
        val s1 = nowMs
        group(s"$base/plan")
        df.queryExecution.executedPlan
        val s2 = nowMs
        group(s"$base/exec")
        noop(df)
        val s3 = nowMs
        spark.sparkContext.clearJobGroup()
        val op = span(0, "op", name, pass, s0, s3)
        groupSpan(s"$base/construct") = span(op, "construct", name, pass, s0, s1)
        groupSpan(s"$base/plan") = span(op, "plan", name, pass, s1, s2)
        groupSpan(s"$base/exec") = span(op, "exec", name, pass, s2, s3)
        val phases = df.queryExecution.tracker.phases
        def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val ol = opLayers.getOrElseUpdate((pass, name), new Layers)
        ol.add("construct_ms", s1 - s0)
        ol.add("analysis_ms", phase("analysis"))
        ol.add("optimization_ms", phase("optimization"))
        ol.add("planning_ms", phase("planning"))
        ol.add("exec_ms", s3 - s2)
        ol.add("op_ms", s3 - s0)
      }
      Some((System.nanoTime() - t0) / 1e6)
    } catch {
      case e: Throwable => fail(name, e); None
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Attributes the listener's counts of a traced pass to its operations,
    * and sums the operations into the pass.
    */
  private def fileCounts(pass: Int, ops: Seq[String], layers: Layers): Unit = {
    metrics.drain(spark.sparkContext)
    ops.flatMap(name => opLayers.get((pass, name)).map(name -> _)).foreach { case (name, ol) =>
      val base = s"$pass/$name"
      ol.add("construct_jobs", metrics.group(s"$base/construct").jobs.toDouble)
      Seq("construct", "plan", "exec").foreach(p => ol.addExec(metrics.group(s"$base/$p")))
      layers.addAll(ol)
    }
  }

  /** One pass over the serve operations; returns (wall s, op ms samples). */
  private def servePass(pass: Int, ops: Seq[String], traced: Option[Layers]): (Double, Seq[Double]) = {
    loads += loadAvg()
    traced.foreach(resolveTables(pass, _))
    val todo = order(ops, pass).filterNot(failedOps)
    val t0 = System.nanoTime()
    val samples = todo.flatMap(n => serveOp(pass, n, traced.isDefined).map { ms =>
      opLog.getOrElseUpdate(n, mutable.ArrayBuffer.empty[Double]) += ms
      ms
    })
    val wall = (System.nanoTime() - t0) / 1e9
    traced.foreach(fileCounts(pass, todo, _))
    (wall, samples)
  }

  // ---- the DAG ----------------------------------------------------------

  private lazy val dag = new Dag(spark, a.raw, a.work, a.seed)

  /** One `Runner` pass over the DAG; every model is one timed operation. */
  final case class DagRun(seconds: Double, opMs: Seq[Double], jobs: Double, rows: Double,
                          bytes: Double, files: Double)

  private lazy val warehouse = s"${a.work}/warehouse"

  private def dagRun(pass: Int, srcs: Map[String, DataFrame],
                     traced: Option[Layers]): Option[DagRun] = {
    loads += loadAvg()
    val (bytes0, files0) = dag.diskUse(warehouse)
    val ops = mutable.ArrayBuffer.empty[Double]
    val groups = mutable.ArrayBuffer.empty[(String, String, Double)]
    var failed = false
    def op(name: String, body: () => Unit): Unit = if (!failed) {
      attempted += 1
      val g = s"$pass/$name"
      val s0 = nowMs
      val t0 = System.nanoTime()
      try {
        if (traced.isDefined) group(g)
        body()
        val ms = (System.nanoTime() - t0) / 1e6
        ops += ms
        opLog.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += ms
        if (traced.isDefined) groups += ((g, name, ms))
      } catch {
        case e: Throwable => fail(s"dag.$name", e); failed = true
      } finally spark.sparkContext.clearJobGroup()
      if (traced.isDefined) groupSpan(g) = span(0, "model", name, pass, s0, nowMs)
    }
    val runner = dag.runner(warehouse)
    val t0 = System.nanoTime()
    dag.refresh(runner, srcs, op)
    val seconds = (System.nanoTime() - t0) / 1e9
    if (failed) None
    else {
      val jobs = traced.map { l =>
        metrics.drain(spark.sparkContext)
        groups.foreach { case (g, name, ms) =>
          val ol = opLayers.getOrElseUpdate((pass, name), new Layers)
          ol.addExec(metrics.group(g))
          ol.add("exec_ms", ms)
          ol.add("op_ms", ms)
          l.addAll(ol)
        }
        groups.map(g => metrics.group(g._1).jobs).sum.toDouble
      }.getOrElse(0.0)
      val (bytes1, files1) = dag.diskUse(warehouse)
      Some(DagRun(seconds, ops.toSeq, jobs, dag.rowsLogged(runner).toDouble,
        (bytes1 - bytes0).toDouble, (files1 - files0).toDouble))
    }
  }

  // ---- the output check -------------------------------------------------

  /** After the first incremental run: the snapshot closed one row per
    * revised value and opened one per revised or added row; the
    * incremental model appended one row per nation with a new month.
    */
  private def checkIncremental(before: Dag.Counts, rev: Dag.Revision): Unit = {
    attempted += 1
    try {
      val after = dag.counts(warehouse)
      val want = Dag.Counts(before.snapshot + rev.changed + rev.added,
        before.open + rev.added, before.closed + rev.changed, before.incremental + rev.added)
      if (after != want) failures +=
        s"check:dag.incremental: got $after, expected $want for ${rev.changed} revised " +
          s"raw_gdp rows and ${rev.added} nations with a new period"
    } catch { case e: Throwable => fail("check:dag.incremental", e) }
  }

  private def checkOne(name: String, expected: Map[String, Fingerprint.Value],
                       recorded: mutable.Map[String, Fingerprint.Value])(df: => DataFrame): Unit = {
    attempted += 1
    try {
      val got = Fingerprint.of(df)
      recorded(name) = got
      if (!a.record) expected.get(name) match {
        case None => failures += s"check:$name: no expected fingerprint"
        case Some(want) if want != got =>
          failures += s"check:$name: got rows=${got.rows} hash=${got.hash}, " +
            s"expected rows=${want.rows} hash=${want.hash}"
        case _ =>
      }
    } catch { case e: Throwable => fail(s"check:$name", e) }
  }

  // ---- the run ----------------------------------------------------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Linear interpolation between the two closest ranks: with few samples
    * beyond it, a nearest-rank quantile jumps from one sample to the next.
    */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val p = q * (s.size - 1)
      val i = p.toInt
      s(i) + (s(math.min(i + 1, s.size - 1)) - s(i)) * (p - i)
    }
  }
  private def medianLayers(ps: Seq[Layers]): Map[String, Double] =
    ps.flatMap(_.v.keys).distinct.map(k => k -> median(ps.map(_.v(k)))).toMap

  /** JVM heap after full GCs, repeated until it settles: Spark's
    * ContextCleaner frees blocks and broadcasts only after a GC has found
    * them unreachable, so the first GC alone leaves a varying remainder.
    */
  private def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 1)
    while (rounds < 8 && prev - cur > 1.0) { prev = cur; cur = used(); rounds += 1 }
    cur
  }

  def execute(): Unit = {
    Files.createDirectories(Paths.get(a.work))
    val setups = setUp()
    phaseEnd("setup")
    val expected: Map[String, Fingerprint.Value] =
      if (a.record || !Files.exists(Paths.get(a.expected))) Map.empty
      else Json.readFingerprints(a.expected)
    val recorded = mutable.TreeMap.empty[String, Fingerprint.Value]
    // A traced run first makes one unrecorded warm pass (the first warm
    // pass still pays for JIT compilation), then one U T T U block of
    // untraced and traced passes, so a drift across the run weighs on both
    // sides of the tracing overhead alike.
    val settle = if (a.trace) 1 else 0
    val minWarm = if (a.trace) settle + 4 else Workloads.warmPasses(a.workload)
    def traceOf(i: Int): Option[Layers] = {
      val k = i - settle
      if (a.trace && (k % 4 == 1 || k % 4 == 2)) Some(new Layers) else None
    }

    val warmWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val warmOps = mutable.ArrayBuffer.empty[Double]
    val tracedLayers = mutable.ArrayBuffer.empty[Layers]
    val coldLayers = if (a.trace) Some(new Layers) else None
    var coldS = 0.0
    val fullRuns = mutable.ArrayBuffer.empty[DagRun]
    val incrRuns = mutable.ArrayBuffer.empty[DagRun]
    val tracedRuns = mutable.ArrayBuffer.empty[DagRun]
    var dagLayers: Map[String, Double] = Map.empty

    val ops = Workloads.ops(a.workload)
    val isDag = ops.isEmpty
    val t0 = System.nanoTime()

    if (!isDag) {
      coldS = servePass(0, ops, coldLayers)._1
      phaseEnd("cold")
      ops.sorted.filterNot(failedOps).foreach { n =>
        checkOne(n, expected, recorded)(SparkEntry.queries(n)(spark, a.data))
      }
      phaseEnd("check")
      val w0 = System.nanoTime()
      var i = 0
      while (i < minWarm || (System.nanoTime() - w0) / 1e9 < a.seconds) {
        val tl = traceOf(i)
        val (wall, samples) = servePass(i + 1, ops, tl)
        tl match {
          case _ if i < settle =>
          case Some(l) => tracedWall += wall; tracedLayers += l
          case None => warmWall += wall; warmOps ++= samples
        }
        i += 1
      }
    } else {
      // pass 0: full refresh into an empty warehouse; then incremental
      // runs, each over its own seeded revision of the raw tables
      require(dag.landed, s"the raw tables are not landed in ${a.raw} (perfbench.Land)")
      val full = dagRun(0, dag.sources(None), coldLayers)
      full.foreach { r => coldS = r.seconds; fullRuns += r }
      phaseEnd("cold")
      if (full.isDefined) {
        val reader = dag.runner(warehouse)
        dag.tableModels.foreach(m => checkOne(s"dag.$m", expected, recorded)(reader.readTable(m)))
      }
      val before = if (full.isDefined) Some(dag.counts(warehouse)) else None
      phaseEnd("check")
      val w0 = System.nanoTime()
      var i = 0
      while (before.isDefined && failures.isEmpty &&
             (i < minWarm || (System.nanoTime() - w0) / 1e9 < a.seconds)) {
        val tl = traceOf(i)
        val revision = dag.revise(i + 1)
        dagRun(i + 1, dag.sources(Some(revision)), tl).foreach { r =>
          if (i == 0) checkIncremental(before.get, revision)
          tl match {
            case _ if i < settle =>
            case Some(l) => tracedLayers += l; tracedRuns += r; tracedWall += r.seconds
            case None => incrRuns += r; warmWall += r.seconds; warmOps ++= r.opMs
          }
        }
        i += 1
      }
    }
    if (a.trace && isDag) dagLayers = dag.layerTimes { (layer, dfs) =>
      val s0 = nowMs
      dfs.foreach(noop)
      val s1 = nowMs
      span(0, "layer", layer, 2000, s0, s1)
      s1 - s0
    }
    // every byte the run's DAG passes wrote is still on disk (versions are
    // kept), over the bytes the current versions hold
    val writeAmp = if (!isDag) 0.0 else {
      val live = dag.liveBytes(warehouse)
      if (live > 0) dag.diskUse(warehouse)._1.toDouble / live else 0.0
    }
    loads += loadAvg()
    val measuredS = (System.nanoTime() - t0) / 1e9
    phaseEnd("warm")

    val heapMb = liveHeapMb()
    phaseEnd("heap")

    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> median(setups),
      "cold_s" -> coldS,
      "warm_s" -> median(warmWall.toSeq),
      "op_p50_ms" -> median(warmOps.toSeq),
      "op_p90_ms" -> quantile(warmOps.toSeq, 0.9),
      "heap_live_mb" -> heapMb)

    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      val warm = medianLayers(tracedLayers.toSeq)
      val cold = coldLayers.map(_.v.toMap).getOrElse(Map.empty)
      val wallMs = warm.getOrElse("op_ms", 0.0)
      val dagRuns = tracedRuns.toSeq
      Workloads.perLayer.map(k => k -> 0.0).toMap ++ warm ++ Map(
        "memo_build_ms" ->
          (cold.getOrElse("construct_ms", 0.0) - warm.getOrElse("construct_ms", 0.0)),
        "core_util" -> (if (wallMs > 0) warm.getOrElse("task_run_ms", 0.0) / (wallMs * cpus) else 0.0),
        "full_refresh_s" -> median(fullRuns.map(_.seconds).toSeq),
        "incremental_s" -> median(incrRuns.map(_.seconds).toSeq),
        "dag.jobs" -> median(dagRuns.map(_.jobs)),
        "dag.rows_written" -> median(dagRuns.map(_.rows)),
        "bytes_written" -> median(dagRuns.map(_.bytes)),
        "files_written" -> median(dagRuns.map(_.files)),
        "write_amp" -> writeAmp,
        "setup_first_s" -> setups.head,
        "trace_overhead_s" -> (median(tracedWall.toSeq) - median(warmWall.toSeq))) ++ dagLayers
    }.filter { case (k, _) => Workloads.perLayer.contains(k) }

    if (a.trace) writeTrace()
    if (a.record) {
      val prior: Map[String, Fingerprint.Value] =
        if (Files.exists(Paths.get(a.expected))) Json.readFingerprints(a.expected) else Map.empty
      Json.write(a.expected, Map("fingerprints" -> (prior ++ recorded).map { case (k, v) =>
        k -> Map("rows" -> v.rows, "hash" -> v.hash) }))
    }

    val heapFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(f => f.startsWith("-Xm") || f.startsWith("-XX:")).toSeq
    Json.write(a.out, Map(
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "checked" -> recorded.size,
      "metrics" -> (if (a.trace) perLayer else endToEnd),
      "samples" -> Map(
        "phase_end_s" -> phases, "setup_s" -> setups,
        "warm_pass_s" -> warmWall.toSeq, "traced_pass_s" -> tracedWall.toSeq,
        "warm_ops" -> warmOps.size, "op_ms" -> opLog.map { case (k, v) => k -> v.toSeq },
        "full_refresh_s" -> fullRuns.map(_.seconds).toSeq,
        "incremental_s" -> incrRuns.map(_.seconds).toSeq),
      "host" -> Map(
        "nproc" -> cpus, "spark_version" -> spark.version, "jvm_flags" -> heapFlags,
        "java_version" -> System.getProperty("java.version"), "load_avg" -> loads.toSeq,
        "measured_s" -> measuredS)))
    spark.stop()
  }

  /** Spans with each one's self time (its duration minus the part its
    * children cover), plus the self time summed per kind of span.
    */
  private def writeTrace(): Unit = {
    metrics.drain(spark.sparkContext)
    val passOf = spans.map(s => s.id -> s.pass).toMap
    val jobs = metrics.jobSpans.filter(j => groupSpan.contains(j.group)).map { j =>
      val parent = groupSpan(j.group)
      Span(-j.id, parent, "job", s"job ${j.id}", passOf(parent),
        j.startMs.toDouble, j.endMs.toDouble) -> Map("stages" -> j.stages, "tasks" -> j.tasks)
    }
    val all = spans.toSeq.map(_ -> Map.empty[String, Int]) ++ jobs
    val children = all.map(_._1).groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var total = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (x, y) =>
        if (cs.isNaN || x > ce) { if (!cs.isNaN) total += ce - cs; cs = x; ce = y }
        else ce = math.max(ce, y)
      }
      if (!cs.isNaN) total += ce - cs
      total
    }
    val rows = all.map { case (s, extra) =>
      val self = (s.end - s.start) - (if (s.id > 0) covered(s) else 0.0)
      (s, self, extra)
    }
    val selfByKind = rows.groupBy(_._1.kind).map { case (k, rs) => k -> rs.map(_._2).sum }
    Json.write(a.traceOut, Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "self_ms_by_kind" -> selfByKind,
      "operations" -> opLayers.toSeq.map { case ((pass, name), l) =>
        Map("pass" -> pass, "name" -> name, "metrics" -> l.v)
      },
      "spans" -> rows.map { case (s, self, extra) =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "pass" -> s.pass, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self) ++ extra
      }))
  }
}
