package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main <workload> <seed> <seconds> <trace 0|1> <workDir>`.
  *
  * Set-up is the JVM and session start, the seeded input generation (run
  * three times, median taken) and one discarded warm-up pass at the target
  * size. Then passes over the workload's operator list repeat until
  * `seconds` have elapsed; one driver thread issues every call, so the
  * workload is a closed loop with one client. Checks run after each call,
  * outside its timed window. After each pass the storage still held is
  * read and every RDD the pass left persisted is dropped.
  *
  * With trace 1, untraced and traced passes alternate, starting and ending
  * untraced: listeners and spans are on only in the traced ones, which give
  * the per-layer numbers; the untraced ones give the overhead baseline.
  *
  * The last stdout line is the result JSON; the line before it records the
  * seed, input sizes, core count and the effective configuration. */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** The session `graft.Bench` uses: local[cores], one shuffle partition per
    * core, UI off, parquet nanos as long, a 10000-entry codegen cache, UTC.
    * No `graft.*` conf is set. */
  private def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val GraftKnobs = Seq("graft.layout.clusterMinRows", "graft.loops.slimHint",
    "graft.sssp.frontierHint", "graft.sssp.frontierRowBudget", "graft.stream.noDataBatches",
    "graft.stream.probe", "graft.stream.statePartitions")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores, workDir)
    val sc = spark.sparkContext
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val t0 = System.nanoTime()
    val w: Workload = workload match {
      case "loops_small" => new LoopsSmall(spark, seed)
      case "loops_large" => new LoopsLarge(spark, seed)
      case "cell_kernels" => new CellKernels(spark, seed)
    }
    val constructS = (System.nanoTime() - t0) / 1e9
    val genS = median(Seq.fill(3) {
      val g0 = System.nanoTime()
      w.generate()
      (System.nanoTime() - g0) / 1e9
    })
    val inputRdds = sc.getPersistentRDDs.keySet.toSet
    val ops = w.ops

    var attempted = 0L
    var failed = 0L
    var checkS = 0.0
    var dropS = 0.0
    val spans = new Spans
    def pass(): (Double, Seq[OpTiming]) = {
      val ts = ops.map(_.run(spans))
      attempted += ts.size
      failed += ts.count(!_.ok)
      checkS += ts.map(_.checkS).sum
      (ts.map(_.totalS).sum, ts)
    }

    /** Storage (memory + disk) still held by persisted RDDs once the pass's
      * outputs are unreachable, then drops every RDD but the inputs. */
    def retainedThenDrop(): Double = {
      val d0 = System.nanoTime()
      System.gc()
      var last = -1.0
      var cur = 0.0
      var polls = 0
      while (cur != last && polls < 40) {
        last = cur
        Thread.sleep(100)
        cur = sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum / (1 << 20)
        polls += 1
      }
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!inputRdds(id)) rdd.unpersist(blocking = true)
      }
      dropS += (System.nanoTime() - d0) / 1e9
      cur
    }

    val p0 = System.nanoTime()
    w.prepareChecks()
    val prepareS = (System.nanoTime() - p0) / 1e9
    val warmS = pass()._1
    retainedThenDrop()
    val setupS = sessionS + constructS + genS + warmS

    val untraced = mutable.ArrayBuffer.empty[Double]
    val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.ArrayBuffer.empty[Seq[OpTiming]]
    val retained = mutable.ArrayBuffer.empty[Double]
    val listeners = new Listeners
    val m0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - m0) / 1e9
    // traced runs measure untraced-traced-untraced at least, so the JIT's
    // pass-over-pass speed-up does not masquerade as tracing overhead
    while (elapsed < seconds || untraced.isEmpty || (trace && (traced.isEmpty || untraced.size < 2))) {
      if (trace && i % 2 == 1) {
        spans.pass = i
        spans.enabled = true
        listeners.register(spark)
        val (_, ts) = spans("pass")(pass())
        Listeners.drain(listeners)
        listeners.unregister(spark)
        spans.enabled = false
        traced += ts
      } else {
        val (s, ts) = pass()
        untraced += s
        ts.foreach(t => opTimes.getOrElseUpdate(t.key, mutable.ArrayBuffer.empty) += t.totalS)
      }
      retained += retainedThenDrop()
      i += 1
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (median(untraced.toSeq), "s")
      metrics("ops_ok_ratio") = (1.0 - failed.toDouble / attempted, "ratio")
      metrics("retained_mb") = (median(retained.toSeq), "MB")
    } else {
      perLayer(metrics, listeners, spans, traced.toSeq, untraced.toSeq, cores)
      w.kernelTimings().foreach { case (k, v) => metrics(k) = (v, "ns") }
      val path = Paths.get(workDir, s"spans-$workload-$seed.json")
      Files.write(path, spans.toJson.getBytes(StandardCharsets.UTF_8))
    }

    val conf = (GraftKnobs.map(k => k -> spark.conf.getOption(k).getOrElse("unset (engine default)")) ++
      sc.getConf.getAll.filter(_._1.startsWith("spark.")).sortBy(_._1))
    val record = Seq(
      "workload" -> jsonStr(workload), "seed" -> seed.toString, "cores" -> cores.toString,
      "passes" -> (untraced.size + traced.size).toString,
      "untraced_pass_s" -> untraced.map(jsonNum).mkString("[", ",", "]"),
      "traced_pass_s" -> traced.map(t => jsonNum(t.map(_.totalS).sum)).mkString("[", ",", "]"),
      "setup_parts_s" -> Seq("session" -> sessionS, "construct" -> constructS, "generate" -> genS,
        "warmup" -> warmS).map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString("{", ",", "}"),
      "op_s" -> opTimes.map { case (k, v) => s"${jsonStr(k)}:${jsonNum(median(v.toSeq))}" }
        .mkString("{", ",", "}"),
      "outside_timing_s" -> Seq("references" -> prepareS, "checks" -> checkS,
        "retained_and_drop" -> dropS, "jvm_uptime" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
        .map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString("{", ",", "}"),
      "sizes" -> w.sizes.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}"),
      "conf" -> conf.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}"))
    println(record.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{\"run\":{", ",", "}}"))
    val ms = metrics.map { case (k, (v, u)) =>
      s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    spark.stop()
  }

  /** Per-layer numbers of the traced passes, each a mean per pass. The
    * measured windows are the operator spans (call + consume): checks and
    * the work between operators are left out, as in `pass_s`. */
  private def perLayer(out: mutable.Map[String, (Double, String)], l: Listeners, spans: Spans,
      traced: Seq[Seq[OpTiming]], untraced: Seq[Double], cores: Int): Unit = {
    val n = traced.size.toDouble
    val opKeys = traced.head.map(_.key).toSet
    val windows = spans.recorded.filter(s => opKeys(s.name)).map(s => (s.startMs, s.endMs)).toSeq
    def inOps(ms: Double): Boolean = windows.exists { case (a, b) => ms >= a && ms <= b }
    val wall = windows.map { case (a, b) => b - a }.sum / 1000.0
    val jobs = l.jobs.toSeq.filter(j => inOps(j.startMs.toDouble))
    val stages = l.stages.toSeq.filter(s => inOps(s.submittedMs.toDouble))
    val queries = l.queries.toSeq.filter(q => inOps(q.startMs.toDouble))
    val jobIv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val execIv = l.executions.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq
    val busyMs = windows.map { case (a, b) => Listeners.unionMs(jobIv, a, b) }.sum
    val seenMs = windows.map { case (a, b) => Listeners.unionMs(jobIv ++ execIv, a, b) }.sum
    val driverOnly = wall - busyMs / 1000.0
    val runS = stages.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    out("catalyst.analysis_s") = (queries.map(_.analysisMs).sum / 1000.0 / n, "s")
    out("catalyst.optimization_s") = (queries.map(_.optimizationMs).sum / 1000.0 / n, "s")
    out("catalyst.planning_s") = (queries.map(_.planningMs).sum / 1000.0 / n, "s")
    out("catalyst.executions") = (queries.size / n, "count")
    out("sched.jobs") = (jobs.size / n, "count")
    out("sched.stages") = (stages.size / n, "count")
    out("sched.tasks") = (stages.map(_.tasks).sum / n, "count")
    out("sched.driver_only_s") = (driverOnly / n, "s")
    out("sched.driver_only_share") = (driverOnly / wall, "ratio")
    out("sched.unattributed_jobs") = (jobs.count(!_.sqlExecution) / n, "count")
    out("sched.unattributed_driver_s") = ((wall - seenMs / 1000.0) / n, "s")
    out("task.run_s") = (runS / n, "s")
    out("task.cpu_s") = (stages.map(_.cpuNs).sum / 1e9 / n, "s")
    out("task.gc_s") = (stages.map(_.gcMs).sum / 1000.0 / n, "s")
    out("task.core_busy_share") = (runS / (wall * cores), "ratio")
    out("shuffle.write_mb") = (stages.map(_.shuffleWriteBytes).sum / mb / n, "MB")
    out("shuffle.read_mb") = (stages.map(_.shuffleReadBytes).sum / mb / n, "MB")
    out("shuffle.spill_mb") = (stages.map(_.spillBytes).sum / mb / n, "MB")
    out("util.checkpoint_rdds") = (l.persistedRdds.size / n, "count")
    // per operator: call and consume span time, and the jobs started inside
    val opSpans = spans.recorded.groupBy(_.name)
    traced.head.map(_.key).foreach { key =>
      def secs(name: String) = opSpans.getOrElse(name, Nil).map(_.seconds).sum / n
      val inOp = opSpans.getOrElse(key, Nil)
      val opJobs = jobs.count(j => inOp.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
      out(s"$key.call_s") = (secs(s"$key.call"), "s")
      out(s"$key.consume_s") = (secs(s"$key.consume"), "s")
      out(s"$key.jobs") = (opJobs / n, "count")
      if (key.startsWith("expr.")) out(s"$key.op_s") = (secs(key), "s")
    }
    val tracedMed = median(traced.map(_.map(_.totalS).sum))
    val untracedMed = median(untraced)
    out("trace.pass_s_traced") = (tracedMed, "s")
    out("trace.pass_s_untraced") = (untracedMed, "s")
    out("trace.overhead_share") = (tracedMed / untracedMed - 1.0, "ratio")
  }
}
