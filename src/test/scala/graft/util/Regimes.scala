package graft.util

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spec helpers for the loops with two regimes: the default one (a small
  * input runs as one operator) and the `Fixpoint` loop, which
  * `graft.layout.clusterMinRows=0` forces (clustered, for the loops that
  * have a layout). */
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

  /** [[bothRegimes]] for a fixed-round loop (PageRank, label
    * propagation) whose graph has `nodes` nodes and `edges` measured edge
    * rows; when `nodes < edges` also its third regime, the lazy chain of a
    * dense graph: with the bound at `nodes` the edges are over it, so the
    * loop runs, but the node count keeps the loop unclustered. All
    * regimes must return the same rows. Returns the rows. */
  def allRegimes(spark: SparkSession, nodes: Long, edges: Long)(run: => DataFrame): Array[Row] = {
    val rows = bothRegimes(spark)(run)
    if (nodes < edges) {
      val chain = bounded(spark, nodes)(run.collect())
      assert(sorted(chain) == sorted(rows),
        s"rows differ:\n small ${sorted(rows)}\n chain ${sorted(chain)}")
    }
    rows
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
