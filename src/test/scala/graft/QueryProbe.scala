package graft

import org.apache.spark.graft.TestBusShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import scala.collection.mutable

/** Per-query profile of `SparkEntry.queries` entries. Each query is warmed
  * (codegen and JIT) where Bench warms (`Bench.warmDir`), then timed for
  * `rounds` rounds at the SF dir under `count()`, Bench's action, with
  * leaked blocks dropped between runs as Bench does. One JSON line per
  * query, side and round: `wall_s`, `rows`, `jobs`, `stages`, `tasks`,
  * `task_s` (summed executor run time) and `driver_only_s` (wall minus
  * the union of the run's job intervals: Catalyst, scheduling and driver
  * work between jobs).
  *
  * Usage: `Test/runMain graft.QueryProbe [--sf DIR] [--rounds N] [--jobs]
  * [--plan] [--conf k=v,...] query...`
  *  - `--sf` defaults to `SPARK_GRAFT_SF_DIR`, else /root/testdata/sf0.1.
  *  - `--jobs` adds a line per job (wall ms, description) and per
  *    streaming micro-batch (its progress report).
  *  - `--plan` adds a line splitting each run into build, plan and exec
  *    ms, and prints the formatted physical plan after the last round.
  *    Iterative queries run work eagerly in their build step.
  *  - `--conf` adds a side B: a clone of the session with the overrides,
  *    warmed too and run right after side A in every round, so host drift
  *    hits both sides alike. The shared session's conf is untouched. */
object QueryProbe {
  final case class Options(sfDir: String, rounds: Int = 2,
      jobs: Boolean = false, plan: Boolean = false, conf: Seq[(String, String)] = Nil)

  final case class Record(query: String, side: String, round: Int, wallS: Double,
      rows: Long, jobs: Int, stages: Int, tasks: Int, taskS: Double, driverOnlyS: Double) {
    def json: String = s"""{${head(query, side, round)},"wall_s":${Bench.num(wallS, 3)},""" +
      s""""rows":$rows,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_s":${Bench.num(taskS, 3)},"driver_only_s":${Bench.num(driverOnlyS, 3)}}"""
  }

  private def head(query: String, side: String, round: Int): String =
    s""""query":${Verify.jsonString(query)},"side":"$side","round":$round"""

  /** The jobs, completed stages and streaming progress of one run. */
  private final class Listener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val jobEnds = mutable.HashMap.empty[Int, Long]
    var stages, tasks = 0
    var taskMs = 0L
    val progress = mutable.ArrayBuffer.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobs += ((e.jobId, e.time, p.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      taskMs += Option(e.stageInfo.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    }
    // a streaming query runs on its own session clone, whose listener
    // manager this probe cannot reach; its progress still crosses the bus
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized { progress += p.progress.json }
      case _ =>
    }
  }

  /** Total length of the union of `intervals`. */
  private def unionMs(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((total, reach), (a, b)) =>
      (total + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
    }._1

  /** Warms and times `names` under `opts`; emits every line and returns
    * the records. */
  def probe(spark: SparkSession, names: Seq[String], opts: Options,
      emit: String => Unit = println(_)): Seq[Record] = {
    val sides = Seq("A" -> spark) ++ (if (opts.conf.isEmpty) Nil
      else Seq("B" -> org.apache.spark.sql.graft.shims.cloneSessionWithConf(spark, opts.conf: _*)))
    for (name <- names; (_, s) <- sides)
      try SparkEntry.queries(name)(s, Bench.warmDir(opts.sfDir)).count()
      finally Bench.dropLeakedBlocks(spark)
    val sc = spark.sparkContext
    for (round <- 1 to opts.rounds; name <- names; (side, s) <- sides) yield {
      TestBusShims.drainListenerBus(sc)
      val l = new Listener
      sc.addSparkListener(l)
      val (t0, t0Ms) = (System.nanoTime(), System.currentTimeMillis())
      val df = SparkEntry.queries(name)(s, opts.sfDir)
      val t1 = System.nanoTime()
      if (opts.plan) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = try df.count() finally Bench.dropLeakedBlocks(spark)
      val (t3, t3Ms) = (System.nanoTime(), System.currentTimeMillis())
      TestBusShims.drainListenerBus(sc)
      sc.removeSparkListener(l)
      val busy = unionMs(l.jobs.toSeq.map { case (id, start, _) =>
        (math.max(start, t0Ms), math.min(l.jobEnds.getOrElse(id, t3Ms), t3Ms)) })
      val wall = (t3 - t0) / 1e9
      val r = Record(name, side, round, wall, rows, l.jobs.size, l.stages, l.tasks,
        l.taskMs / 1e3, math.max(0.0, wall - busy / 1e3))
      emit(r.json)
      if (opts.jobs) {
        l.jobs.foreach { case (id, start, desc) =>
          emit(s"""{${head(name, side, round)},"job":$id,""" +
            s""""ms":${l.jobEnds.get(id).map(_ - start).getOrElse(-1L)},"desc":${Verify.jsonString(desc)}}""")
        }
        l.progress.foreach(p => emit(s"""{${head(name, side, round)},"progress":$p}"""))
      }
      if (opts.plan) {
        def ms(a: Long, b: Long) = Bench.num((b - a) / 1e6, 1)
        emit(s"""{${head(name, side, round)},"build_ms":${ms(t0, t1)},""" +
          s""""plan_ms":${ms(t1, t2)},"exec_ms":${ms(t2, t3)}}""")
        if (round == opts.rounds) emit(df.queryExecution.explainString(FormattedMode))
      }
      r
    }
  }

  def main(args: Array[String]): Unit = {
    def parse(as: List[String], o: Options, names: Seq[String]): (Options, Seq[String]) = as match {
      case "--sf" :: d :: rest => parse(rest, o.copy(sfDir = d), names)
      case "--rounds" :: n :: rest => parse(rest, o.copy(rounds = n.toInt), names)
      case "--jobs" :: rest => parse(rest, o.copy(jobs = true), names)
      case "--plan" :: rest => parse(rest, o.copy(plan = true), names)
      case "--conf" :: kvs :: rest =>
        parse(rest, o.copy(conf = kvs.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => (k, v)
            case _ => sys.error(s"--conf: bad pair (need k=v): $kv")
          }
        }.toSeq), names)
      case q :: rest =>
        require(SparkEntry.queries.contains(q), s"unknown query: $q")
        parse(rest, o, names :+ q)
      case Nil => (o, names)
    }
    val (opts, names) = parse(args.toList,
      Options(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")), Nil)
    require(names.nonEmpty, "usage: QueryProbe [--sf DIR] [--rounds N] [--jobs] [--plan] " +
      "[--conf k=v,...] query...")
    val spark = LocalSession()
    try probe(spark, names, opts) finally spark.stop()
  }
}
