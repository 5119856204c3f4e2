package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval around a call into the engine. Spans of one pass
  * share `pass`; `parent` is the enclosing span's id (0 at the top). */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * axis as the listener's job and execution timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Spans {
  var enabled = false
  var pass = 0
  private var nextId = 1
  private var stack: List[Int] = Nil
  val recorded = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      recorded += Span(id, parent, pass, name, t0, Clock.nowMs)
      stack = stack.tail
    }
  }

  def toJson: String = recorded.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

final case class JobRec(id: Int, startMs: Long, sqlExecution: Boolean, var endMs: Long = -1L)

/** Task totals of one completed stage, stamped with its submission time. */
final case class StageRec(submittedMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

/** Catalyst phase times of one query execution the listener saw. */
final case class QueryRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** SparkListener + QueryExecutionListener pair, registered only while a
  * traced pass runs. Everything it records is read after the listener bus
  * has drained (see [[Listeners.drain]]). */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  val persistedRdds = mutable.HashSet.empty[Int]
  /** SQL execution intervals (start, end) in epoch ms. */
  val executions = mutable.ArrayBuffer.empty[(Long, Long)]
  private val execStart = mutable.HashMap.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    val r = JobRec(e.jobId, e.time, sql)
    jobs += r
    byId(e.jobId) = r
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += (if (m == null) StageRec(si.submissionTime.getOrElse(0L), si.numTasks, 0, 0, 0, 0, 0, 0)
      else StageRec(si.submissionTime.getOrElse(0L), si.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rddId, _) if info.storageLevel.isValid => persistedRdds += rddId
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach(t0 => executions += ((t0, s.time)))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    queries += QueryRec(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Listeners {
  /** Waits until every started job has ended and no new event arrived for
    * a quiet period: the listener bus delivers asynchronously. */
  def drain(l: Listeners): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val sig = l.synchronized {
        if (l.jobs.exists(_.endMs < 0)) -1L
        else l.jobs.size * 1000003L + l.stages.size * 31L + l.executions.size + l.queries.size
      }
      if (sig >= 0 && sig == last) stable += 1 else stable = 0
      last = sig
    }
  }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
