package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.CheckpointLayout

/** The one-operator small regime of the iterative loops and of connected
  * components: an input measured at or under the layout bound
  * (`CheckpointLayout.smallRegime`) is collected once, the operator runs
  * on the driver, and the result comes back as a parallelized frame — no
  * job per round, and no checkpoint left pinned behind the result.
  * [[collectIfSmall]] is the one place that decides and collects. */
object DriverRegime {

  /** `rows` as a frame of `schema`, parallelized over at most 32
    * partitions. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 32))), schema)

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
