package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.df.H3CellIndex
import graft.functions._
import graft.h3.{H3Core, H3Geo, H3Polygon, H3Traversal}
import graft.raster.H3Raster
import perfbench.Check._

/** Seeded res-9 cells through the `graft.functions` kernels, each written
  * to the `noop` sink, plus two of the paper's shapes: the two-stage
  * spatial filter of `H3CellIndex` and raster-to-compacted-cells. Every op
  * is one or two compute-bound jobs; the loop machinery is not used. */
final class CellKernels(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import CellKernels._

  private val cores = spark.sparkContext.defaultParallelism
  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 37)

  /** Distinct res-6 parents across Europe; the input is their res-9
    * children minus a seeded tenth, so compaction is partial. */
  private val parents: Array[Long] = Iterator.continually(
      H3Geo.latLngToCell(35.0 + 25.0 * rnd.nextDouble(), -10.0 + 40.0 * rnd.nextDouble(), 6))
    .distinct.take(Parents).toArray

  /** Star-shaped polygons of 6-10 vertices, 0.01-0.04 degrees across. */
  private val polygons: Seq[(Long, String)] = (0L until Polygons.toLong).map { id =>
    val lat = 35.0 + 25.0 * rnd.nextDouble()
    val lng = -10.0 + 40.0 * rnd.nextDouble()
    val n = 6 + rnd.nextInt(5)
    val pts = (0 until n).map { i =>
      val a = 2 * math.Pi * (i + 0.8 * rnd.nextDouble()) / n
      val r = 0.01 + 0.03 * rnd.nextDouble()
      f"${lng + r * math.cos(a)}%.6f ${lat + r * math.sin(a)}%.6f"
    }
    id -> (pts :+ pts.head).mkString("POLYGON ((", ", ", "))")
  }

  /** Query boxes of the spatial filter, centred on input parents. */
  private val aois: Seq[(Double, Double, Double, Double)] = Seq.fill(Aois) {
    val g = H3Geo.cellToLatLng(parents(rnd.nextInt(parents.length)))
    (g.lat - 0.08, g.lng - 0.12, g.lat + 0.08, g.lng + 0.12)
  }

  /** A 512 x 512 raster of 0.002-degree pixels: four classes on a seeded
    * Voronoi partition, with a nodata disk. */
  private val rasterTransform = H3Raster.Transform.northUp(
    0.0 + 20.0 * rnd.nextDouble(), 40.0 + 10.0 * rnd.nextDouble(), 0.002, 0.002)
  private val rasterValues: Array[Double] = {
    val sites = Array.fill(12)((rnd.nextInt(RasterSide), rnd.nextInt(RasterSide), 1 + rnd.nextInt(4)))
    val (hx, hy, hr) = (rnd.nextInt(RasterSide), rnd.nextInt(RasterSide), 40 + rnd.nextInt(60))
    Array.tabulate(RasterSide * RasterSide) { i =>
      val (x, y) = (i % RasterSide, i / RasterSide)
      if ((x - hx) * (x - hx) + (y - hy) * (y - hy) < hr * hr) 0.0
      else sites.minBy { case (sx, sy, _) => (sx - x) * (sx - x) + (sy - y) * (sy - y) }._3.toDouble
    }
  }

  private var cellsDf: DataFrame = _
  private var polyDf: DataFrame = _
  private var tilesDf: DataFrame = _

  def generate(): Unit = {
    Seq(cellsDf, polyDf, tilesDf).filter(_ != null).foreach(_.unpersist(blocking = true))
    val sd = seed
    cellsDf = spark.sparkContext.parallelize(parents.toSeq, cores * 4)
      .flatMap(p => H3Core.cellToChildren(p, 9).filter(keep(sd, _)))
      .toDF("cell").repartition(cores * 4).cache()
    cellsDf.count()
    polyDf = polygons.toDF("id", "wkt").repartition(cores).cache()
    polyDf.count()
    tilesDf = H3Raster.tileRaster(spark, RasterSide, RasterSide, rasterTransform,
      rasterValues, 0.0, 64).repartition(cores).cache()
    tilesDf.count()
  }

  def sizes: Seq[(String, Long)] = Seq("cells" -> cellsDf.count(), "polygons" -> Polygons.toLong,
    "aois" -> Aois.toLong, "raster_pixels" -> rasterValues.length.toLong)

  // ---- references, from direct h3 calls on the same inputs ---------------

  private var refParentChildren: (Long, Long) = _
  private var refDisk: (Long, Long) = _
  private var refLatLng: (Long, Long) = _
  private var refBoundary: (Long, Long) = _
  private var refPolys: (Long, Long) = _
  private var refCells: (Long, Long) = _
  private var refAois: Seq[(Long, Long)] = _
  private var refRaster: Map[Double, (Long, Long)] = _

  /** Fingerprint of the rows `rows` yields per input cell, computed in
    * parallel over the cached cells with direct `graft.h3` calls. */
  private def refPrint(rows: Long => Iterator[Long]): (Long, Long) =
    cellsDf.as[Long].rdd.mapPartitions(it => Iterator(fold(it.flatMap(rows))))
      .reduce((a, b) => (a._1 + b._1, a._2 ^ b._2))

  override def prepareChecks(): Unit = {
    refCells = refPrint(c => Iterator(rowHash(c)))
    refParentChildren = refPrint(c => Iterator(H3Core.cellToChildren(c, 10)
      .foldLeft(hashLong(H3Core.cellToParent(c, 7), rowHash(c)))((h, x) => hashLong(x, h))))
    refDisk = refPrint(c => H3Traversal.gridDisk(c, 1).iterator.map(n => hashLong(n, rowHash(c))))
    // the round trip's law is built in: the reference's last column is the cell itself
    refLatLng = refPrint { c =>
      val g = H3Geo.cellToLatLng(c)
      Iterator(hashLong(c, hashDouble(g.lng, hashDouble(g.lat, rowHash(c)))))
    }
    refBoundary = refPrint(c => Iterator(H3Geo.cellToBoundary(c)
      .foldLeft(rowHash(c))((h, g) => hashDouble(g.lng, hashDouble(g.lat, h)))))
    refPolys = fold(polygons.iterator.map { case (id, w) =>
      H3Polygon.polygonToCells(w, 9).foldLeft(rowHash(id))((h, x) => hashLong(x, h)) })
    val boxes = aois
    refAois = boxes.indices.map { i =>
      val (la0, lo0, la1, lo1) = boxes(i)
      refPrint { c =>
        val g = H3Geo.cellToLatLng(c)
        if (g.lat >= la0 && g.lat <= la1 && g.lng >= lo0 && g.lng <= lo1) Iterator(rowHash(c))
        else Iterator.empty
      }
    }
    refRaster = H3Raster.rasterToCells(tilesDf, RasterRes).groupBy(col("value"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("cell")))).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  /** Fingerprint of a long set, as [[Op.fingerprint]] computes it for a
    * one-column frame. */
  private def setPrint(cells: Iterator[Long]): (Long, Long) = fold(cells.map(rowHash))

  /** Check that a fingerprint equals `ref`, read when the check runs. */
  private def same(name: String, ref: => (Long, Long)): ((Long, Long)) => Unit =
    got => expect(got == ref, s"$name fingerprint $got, direct calls give $ref")

  // ---- operators ---------------------------------------------------------

  def ops: Seq[Op[_, _]] = Seq(
    Op("expr", "parent_children") {
      cellsDf.select(col("cell"), h3_cell_to_parent(col("cell"), lit(7)),
        h3_cell_to_children(col("cell"), lit(10)))
    }(Op.noopFingerprint)(same("parent/children", refParentChildren)),
    Op("expr", "grid_disk") {
      cellsDf.select(col("cell"), explode(h3_grid_disk(col("cell"), lit(1))))
    }(Op.noopFingerprint)(same("grid_disk", refDisk)),
    Op("expr", "latlng_roundtrip") {
      val g = h3_cell_to_latlng(col("cell"))
      cellsDf.select(col("cell"), g,
        h3_latlng_to_cell(g.getField("lat"), g.getField("lng"), lit(9)))
    }(Op.noopFingerprint)(same("latlng round trip", refLatLng)),
    Op("expr", "boundary") {
      cellsDf.select(col("cell"), h3_cell_to_boundary(col("cell")))
    }(Op.noopFingerprint)(same("boundary", refBoundary)),
    Op("expr", "compact_agg") {
      cellsDf.groupBy(h3_cell_to_parent(col("cell"), lit(5)).as("p"))
        .agg(h3_compact_agg(col("cell")).as("cells"))
    }(_.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))) { groups =>
      groups.foreach { case (p, cs) =>
        expect(cs.forall(c => H3Core.cellToParent(c, 5) == p), s"compacted cell outside parent $p")
      }
      same("uncompacted set", refCells)(setPrint(
        groups.iterator.flatMap(_._2).flatMap(c => H3Core.uncompactCell(c, 9))))
    },
    Op("expr", "polygon_to_cells") {
      polyDf.select(col("id"), h3_polygon_to_cells(col("wkt"), lit(9)))
    }(Op.noopFingerprint)(same("polygon_to_cells", refPolys)),
    Op("df", "cell_index") {
      val index = H3CellIndex.build(cellsDf, "cell", Some(9))
      (index, aois.map { case (la0, lo0, la1, lo1) => index.filterCentroidsIn(la0, lo0, la1, lo1) })
    } { case (index, queries) =>
      val got = queries.map(Op.fingerprint)
      index.indexed.unpersist(blocking = true)
      got
    } { got =>
      got.zip(refAois).zipWithIndex.foreach { case ((g, r), i) => same(s"aoi $i", r)(g) }
    },
    Op("raster", "to_compacted_cells") {
      H3Raster.rasterToCompactedCells(tilesDf, RasterRes)
    }(_.collect().map(r => (r.getDouble(0), r.getSeq[Long](1)))) { got =>
      expect(got.map(_._1).toSet == refRaster.keySet, "raster value classes differ")
      got.foreach { case (v, cs) =>
        same(s"raster value $v", refRaster(v))(setPrint(cs.iterator.flatMap(H3Core.uncompactCell(_, RasterRes))))
      }
    }
  )

  // ---- direct kernel timings (traced run) --------------------------------

  override def kernelTimings(): Seq[(String, Double)] = {
    val cells = parents.take(KernelParents).flatMap(H3Core.cellToChildren(_, 9)).filter(keep(seed, _))
    val lls = cells.map(H3Geo.cellToLatLng)
    var sink = 0L // captured by the closures below, so no call's result is dead
    def nsPer(n: Long)(body: => Unit): Double = {
      val runs = Seq.fill(3) {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / n
      }
      runs.sorted.apply(1)
    }
    val n = cells.length.toLong
    val polyCells = polygons.map(p => H3Polygon.polygonToCells(p._2, 9).length.toLong).sum
    val out = Seq(
      "cell_to_parent" -> nsPer(n)(cells.foreach(c => sink += H3Core.cellToParent(c, 7))),
      "cell_to_children" -> nsPer(n)(cells.foreach(c => sink += H3Core.cellToChildren(c, 10).length)),
      "grid_disk" -> nsPer(n)(cells.foreach(c => sink += H3Traversal.gridDisk(c, 1).length)),
      "cell_to_latlng" -> nsPer(n)(cells.foreach(c => sink += H3Geo.cellToLatLng(c).lat.toLong)),
      "latlng_to_cell" -> nsPer(n)(lls.foreach(g => sink += H3Geo.latLngToCell(g.lat, g.lng, 9))),
      "cell_to_boundary" -> nsPer(n)(cells.foreach(c => sink += H3Geo.cellToBoundary(c).length)),
      "compact_cells" -> nsPer(n)(sink += H3Core.compactCells(cells).length),
      "polygon_to_cells" -> nsPer(polyCells)(polygons.foreach(p =>
        sink += H3Polygon.polygonToCells(p._2, 9).length)))
    out.map { case (k, v) => s"h3.$k.ns_per_cell" -> v }
  }
}

object CellKernels {
  val Parents = 2600
  val KernelParents = 600
  val Polygons = 150
  val Aois = 3
  val RasterSide = 512
  val RasterRes = 9

  /** Spark's `xxhash64` over a row, spelled out: the seed 42 is chained
    * through every column, array element and struct field in order; a
    * double hashes as its bits, with -0.0 as 0.0. */
  def rowHash(first: Long): Long = hashLong(first, 42L)
  def hashLong(v: Long, h: Long): Long = XXH64.hashLong(v, h)
  def hashDouble(d: Double, h: Long): Long =
    XXH64.hashLong(if (d == -0.0d) 0L else java.lang.Double.doubleToLongBits(d), h)

  /** Row count and XOR of row hashes: [[Op.fingerprint]]'s value. */
  def fold(hashes: Iterator[Long]): (Long, Long) = {
    var n = 0L
    var x = 0L
    hashes.foreach { h => n += 1; x ^= h }
    (n, x)
  }

  /** Seeded 9-in-10 cell filter, a pure function so tasks can apply it. */
  def keep(seed: Long, cell: Long): Boolean = {
    var z = cell ^ (seed * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
    z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
    java.lang.Long.remainderUnsigned(z ^ (z >>> 33), 10L) != 0L
  }
}
