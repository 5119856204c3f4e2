package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

import graft.pipeline.CheckpointLayout

/** The one-operator small regime of the iterative loops, of connected
  * components and of the near-dup pipeline: an input measured at or under
  * the layout bound (`CheckpointLayout.smallRegime`) is collected once,
  * the operator runs on the driver, and the result comes back as a local
  * relation — no job per round, no checkpoint left pinned behind the
  * result, and no job to collect it. [[collectIfSmall]] is the one place
  * that decides and collects; [[localRows]] reads an input that already
  * is such a result. */
object DriverRegime {

  /** `rows` as a local relation of `schema`: collecting it, or a
    * projection or filter of it, runs no job, and [[localRows]] reads it
    * back without one. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The rows of `df` when its optimized plan is a local relation (a
    * [[frame]], or a projection or filter Spark folds into one), read
    * without a job, and their count is in the small regime
    * (`CheckpointLayout.smallRegime`, so a zero bound still forces the
    * distributed path); None otherwise. */
  def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect())
        .filter(rows => CheckpointLayout.smallRegime(df.sparkSession, rows.length))
      case _ => None
    }

  /** Whether ids of `t` can run a driver regime keyed by long ids. */
  def integral(t: DataType): Boolean = t == LongType || t == IntegerType

  /** `v` as a value of the integral id type `t`. */
  def idValue(t: DataType, v: Long): Any = if (t == IntegerType) v.toInt else v

  /** A collected edge list over dense node indices: `ids` holds the
    * distinct endpoints ascending, and edge `i` runs from `ids(src(i))` to
    * `ids(dst(i))`. */
  final class Edges(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def nodes: Int = ids.length
    def size: Int = src.length
  }

  object Edges {
    /** The edges of collected `rows` whose long fields `src` and `dst`
      * hold the endpoints. */
    def apply(rows: Array[Row], src: String, dst: String): Edges = {
      val a = rows.map(_.getAs[Long](src))
      val b = rows.map(_.getAs[Long](dst))
      val ids = (a ++ b).distinct.sorted
      def index(v: Array[Long]) = v.map(java.util.Arrays.binarySearch(ids, _))
      new Edges(ids, index(a), index(b))
    }
  }

  /** Measures `barrier` — a lazy stat-safe barrier, which the count
    * materializes (counting the executed plan's rows adds no aggregation
    * exchange). In the small regime its rows are collected, `free`
    * releases the barrier's blocks, and the rows come back (read them by
    * field name); past the bound the result is None and the barrier stays
    * materialized for the loop. */
  def collectIfSmall(barrier: DataFrame, free: () => Unit): Option[Array[Row]] =
    if (!CheckpointLayout.smallRegime(barrier.sparkSession,
        barrier.queryExecution.toRdd.count())) None
    else {
      val rows = barrier.collect()
      free()
      Some(rows)
    }
}
