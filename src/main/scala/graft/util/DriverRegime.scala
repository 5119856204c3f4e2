package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.CheckpointLayout

/** The one-operator small regime of the iterative loops: an input measured
  * at or under the layout bound (`CheckpointLayout.smallRegime`) is
  * collected once, the loop's rounds are replayed on the driver, and the
  * result comes back as a parallelized frame — no job per round, and no
  * checkpoint left pinned behind the result. */
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

  /** Measures `edges` — a lazy stat-safe barrier over two non-null long
    * columns, which the count materializes (counting the executed plan's
    * rows adds no aggregation exchange). In the small regime the edges are
    * collected, `free` releases the barrier's blocks, and the edge list
    * comes back indexed; past the bound the result is None and the
    * barrier stays materialized for the loop. */
  def collectIfSmall(edges: DataFrame, free: () => Unit): Option[Edges] =
    if (!CheckpointLayout.smallRegime(edges.sparkSession,
        edges.queryExecution.toRdd.count())) None
    else {
      val rows = edges.collect()
      free()
      val a = rows.map(_.getLong(0))
      val b = rows.map(_.getLong(1))
      val ids = (a ++ b).distinct.sorted
      def index(v: Array[Long]) = v.map(java.util.Arrays.binarySearch(ids, _))
      Some(new Edges(ids, index(a), index(b)))
    }
}
