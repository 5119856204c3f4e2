package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.graft.TestBusShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spec helpers for the operators with two regimes: the default one (a
  * small input runs as one operator on the driver) and the distributed
  * loop, which `graft.layout.clusterMinRows=0` forces — for connected
  * components too. */
object Regimes {

  /** Runs `body` with the layout bound at `rows`. */
  def bounded[T](spark: SparkSession, rows: Long)(body: => T): T = {
    spark.conf.set("graft.layout.clusterMinRows", rows.toString)
    try body finally spark.conf.unset("graft.layout.clusterMinRows")
  }

  /** Runs `body` with the clustered regime and the loops forced. */
  def clustered[T](spark: SparkSession)(body: => T): T = bounded(spark, 0L)(body)

  private def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(_.toString)

  /** `run` collected in the default regime and with the loop forced: the
    * two results must have the same column names and types (nullability
    * aside: the loop's follows its input's) and the same rows (walks and
    * all, in any order). Returns the rows. */
  def bothRegimes(spark: SparkSession)(run: => DataFrame): Array[Row] = {
    val small = run
    val smallRows = small.collect()
    val (loopSchema, loopRows) = clustered(spark) { val l = run; (l.schema, l.collect()) }
    assert(small.schema.simpleString == loopSchema.simpleString,
      s"schemas differ: small ${small.schema.simpleString}, loop ${loopSchema.simpleString}")
    assert(sorted(smallRows) == sorted(loopRows),
      s"rows differ:\n small ${sorted(smallRows)}\n loop  ${sorted(loopRows)}")
    smallRows
  }

  /** RDDs left pinned once `run` (which builds and consumes a result) has
    * returned, and the jobs it ran. Every RDD persisted during the run is
    * held strongly from the listener, so a leaked generation cannot be
    * hidden by the context cleaner unpersisting it after a GC. */
  def pinsAndJobs(spark: SparkSession)(run: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    TestBusShims.drainListenerBus(sc)
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val jobs = new AtomicInteger
    def hold(): Unit = sc.getPersistentRDDs.valuesIterator.foreach(held.add)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); hold() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = hold()
    }
    sc.addSparkListener(listener)
    try {
      run
      TestBusShims.drainListenerBus(sc)
      ((sc.getPersistentRDDs.keySet -- before).size, jobs.get)
    } finally {
      sc.removeSparkListener(listener)
      held.clear()
    }
  }

  /** `body`'s result and the WARN messages the logger of `owner` logged
    * while it ran. */
  def warnings[T](owner: Class[_])(body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(owner.getName).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-spec-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
