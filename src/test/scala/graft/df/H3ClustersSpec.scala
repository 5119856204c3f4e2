package graft.df

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.SparkTestSession
import graft.functions._
import graft.h3.{H3Geo, H3Traversal}
import graft.util.Regimes

/** `cellClusters(fixedRounds = None)`: the driver union-find of the small
  * regime and the forced label-propagation loop return identical rows. */
class H3ClustersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def both(df: DataFrame, valueCol: Option[String] = None): Array[Row] =
    Regimes.bothRegimes(spark)(H3Clusters.cellClusters(df, "cell", valueCol))

  private lazy val center = H3Geo.latLngToCell(37.7, -122.4, 9)
  private lazy val ring = H3Traversal.gridRing(center, 1)
  private lazy val disk = center +: ring
  private lazy val far = H3Geo.latLngToCell(48.85, 2.35, 9)

  test("regimes agree on the plain variant: NULL, invalid, isolated and repeated cells") {
    val cells: Seq[Option[Long]] = disk.map(Option(_)).toSeq ++
      Seq(Some(far), Some(0L), Some(12345L), None, Some(ring(0)))
    val rows = both(cells.toDF("cell"))
    assert(rows.length == cells.size)
    val got = rows.map(r => (Option(r.get(0)), Option(r.get(1)))).distinct.toMap
    assert(got == disk.map(c => Option[Any](c) -> Option[Any](disk.min)).toMap ++ Map(
      Some(far) -> Some(far), Some(0L) -> Some(0L), Some(12345L) -> Some(12345L), None -> None))
  }

  test("regimes agree on the eq-value variant: a cell under two values is two nodes") {
    // value 1: the whole disk; value 2 and NULL: the center and one ring
    // cell each; a NULL cell and an invalid id under 1; an isolated cell
    // under 1 and 2
    val r0 = ring(0)
    val keys: Seq[(Option[Long], Option[Int])] = disk.map(c => (Option(c), Option(1))).toSeq ++
      Seq((Some(center), Some(2)), (Some(r0), Some(2)), (Some(center), None), (Some(r0), None),
        (None, Some(1)), (Some(12345L), Some(1)), (Some(far), Some(1)), (Some(far), Some(2)))
    val rows = both(keys.toDF("cell", "value"), Some("value"))
    assert(rows.length == keys.size)
    val got = rows.map(r => (Option(r.get(0)), Option(r.get(1))) -> Option(r.get(2))).toMap
    val pair = math.min(center, r0)
    def k(c: Option[Long], v: Option[Int]) = (c: Option[Any], v: Option[Any])
    val expected = disk.map(c => k(Some(c), Some(1)) -> Option[Any](disk.min)).toMap ++ Map(
      k(Some(center), Some(2)) -> Some(pair), k(Some(r0), Some(2)) -> Some(pair),
      k(Some(center), None) -> Some(pair), k(Some(r0), None) -> Some(pair),
      k(None, Some(1)) -> None, k(Some(12345L), Some(1)) -> Some(12345L),
      k(Some(far), Some(1)) -> Some(far), k(Some(far), Some(2)) -> Some(far))
    assert(got == expected)
    // the same keys under binary values, which group by content
    val binary = keys.toDF("cell", "value")
      .withColumn("value", col("value").cast("string").cast("binary"))
    def binaryClusters = H3Clusters.cellClusters(binary, "cell", Some("value")).collect()
      .map(r => (Option(r.get(0)), Option(r.getAs[Array[Byte]](1)).map(_.toSeq)) -> Option(r.get(2)))
    val small = binaryClusters
    assert(small.length == keys.size && small.toMap == Regimes.clustered(spark)(binaryClusters).toMap)
    assert(small.map(_._2).sortBy(_.toString).toSeq == got.values.toSeq.sortBy(_.toString))
  }

  test("regimes agree on the h3_23_clusters shape") {
    // three disks far apart and a singleton; disk 1 split into two values
    // along a lat half-plane
    val centers = Seq((37.7, -122.4), (48.85, 2.35), (-33.9, 151.2))
    val disks = centers.zipWithIndex.flatMap { case ((lat, lng), i) =>
      H3Traversal.gridDisk(H3Geo.latLngToCell(lat, lng, 7), 1).map(c => (c, i.toLong))
    }
    val df = (disks :+ ((H3Geo.latLngToCell(0.0, 0.0, 7), 3L))).toDF("cell", "disk_id")
    val withVal = df.withColumn("value",
      when(col("disk_id") === 1 && h3_cell_to_latlng(col("cell")).getField("lat") >= centers(1)._1,
        lit(10L)).otherwise(col("disk_id")))
    val plain = both(df)
    assert(plain.map(_.getAs[Long]("cluster")).distinct.length == 4)
    assert(plain.groupBy(_.getAs[Long]("disk_id")).values
      .forall(_.map(_.getAs[Long]("cluster")).distinct.length == 1))
    assert(both(withVal, Some("value")).map(_.getAs[Long]("cluster")).distinct.length == 5)
  }
}
