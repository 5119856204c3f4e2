package graft.expr

import graft.h3.{H3Core, H3Geo, H3Polygon, H3Traversal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static bridge for the geometry/traversal expression catalog (same
 * conventions as [[H3Bridge]]: boxed returns, `null` = invalid input, cell
 * arrays as unsafe long arrays).
 */
object H3GeoBridge {

  def latLngToCell(lat: Double, lng: Double, res: Int): java.lang.Long = {
    val h = H3Geo.latLngToCell(lat, lng, res)
    if (h == H3Core.H3Null) null else java.lang.Long.valueOf(h)
  }

  /** struct (lat, lng) in degrees. */
  def cellToLatLng(h: Long): InternalRow = {
    if (!H3Core.isValidCell(h)) return null
    val g = H3Geo.cellToLatLng(h)
    new GenericInternalRow(Array[Any](g.lat, g.lng))
  }

  def cellLat(h: Long): java.lang.Double =
    if (!H3Core.isValidCell(h)) null else java.lang.Double.valueOf(H3Geo.cellToLatLng(h).lat)

  def cellLng(h: Long): java.lang.Double =
    if (!H3Core.isValidCell(h)) null else java.lang.Double.valueOf(H3Geo.cellToLatLng(h).lng)

  /** closed-ring WKT POLYGON of the cell boundary, (lng lat) order. */
  def cellToBoundaryWkt(h: Long): UTF8String = {
    if (!H3Core.isValidCell(h)) return null
    val verts = H3Geo.cellToBoundary(h)
    val ring = verts.map(v => (v.lng, v.lat)) :+ ((verts.head.lng, verts.head.lat))
    UTF8String.fromString(H3Polygon.polygonWkt(Seq(ring.toSeq)))
  }

  /** (min_lat, min_lng, max_lat, max_lng) envelope of degree-space
    * vertices; planar (shares cellBBox/edgeBBox's documented antimeridian
    * naivety in one place). */
  private def envelope(verts: Iterator[(Double, Double)]): InternalRow = {
    var minLat = Double.MaxValue; var minLng = Double.MaxValue
    var maxLat = Double.MinValue; var maxLng = Double.MinValue
    for ((lat, lng) <- verts) {
      if (lat < minLat) minLat = lat; if (lat > maxLat) maxLat = lat
      if (lng < minLng) minLng = lng; if (lng > maxLng) maxLng = lng
    }
    new GenericInternalRow(Array[Any](minLat, minLng, maxLat, maxLng))
  }

  /** struct (min_lat, min_lng, max_lat, max_lng) of the boundary envelope. */
  def cellBBox(h: Long): InternalRow = {
    if (!H3Core.isValidCell(h)) return null
    envelope(H3Geo.cellToBoundary(h).iterator.map(v => (v.lat, v.lng)))
  }

  /** boundary vertices as array of struct (lat, lng), ring order. */
  def cellToBoundary(h: Long): ArrayData = {
    if (!H3Core.isValidCell(h)) return null
    new GenericArrayData(H3Geo.cellToBoundary(h).map { v =>
      new GenericInternalRow(Array[Any](v.lat, v.lng)): Any
    })
  }

  /** envelope of a directed edge's boundary segment (C8 for edge columns,
    * reference bounding_rect.rs:7-74). */
  def edgeBBox(e: Long): InternalRow = {
    if (!H3Core.isValidDirectedEdge(e)) return null
    val verts = H3Traversal.edgeBoundaryRads(e)
    if (verts.isEmpty) return null
    envelope(verts.iterator.map(v => (math.toDegrees(v.lat), math.toDegrees(v.lng))))
  }

  def gridDisk(h: Long, k: Int): ArrayData =
    if (!H3Core.isValidCell(h) || k < 0) null
    else H3Bridge.longs(H3Traversal.gridDisk(h, k))

  def gridRing(h: Long, k: Int): ArrayData =
    if (!H3Core.isValidCell(h) || k < 0) null
    else H3Bridge.longs(H3Traversal.gridRing(h, k))

  /** array of struct (cell, k). */
  def gridDiskDistances(h: Long, k: Int): ArrayData = {
    if (!H3Core.isValidCell(h) || k < 0) return null
    val pairs = H3Traversal.gridDiskDistances(h, k)
    new GenericArrayData(pairs.map { case (c, d) =>
      new GenericInternalRow(Array[Any](c, d)): Any
    })
  }

  def gridDiskSpiral(h: Long, k: Int): ArrayData =
    if (!H3Core.isValidCell(h) || k < 0) null
    else H3Bridge.longs(H3Traversal.gridDiskSpiral(h, k))

  /** array of struct (cell, k) in spiral traversal order. */
  def gridDiskSpiralDistances(h: Long, k: Int): ArrayData = {
    if (!H3Core.isValidCell(h) || k < 0) return null
    val pairs = H3Traversal.gridDiskDistancesSpiral(h, k)
    new GenericArrayData(pairs.map { case (c, d) =>
      new GenericInternalRow(Array[Any](c, d)): Any
    })
  }

  def gridDistance(a: Long, b: Long): java.lang.Long = {
    if (!H3Core.isValidCell(a) || !H3Core.isValidCell(b)) return null
    val d = H3Traversal.gridDistance(a, b)
    if (d < 0) null else java.lang.Long.valueOf(d)
  }

  def gridPath(a: Long, b: Long): ArrayData = {
    if (!H3Core.isValidCell(a) || !H3Core.isValidCell(b)) return null
    val p = H3Traversal.gridPathCells(a, b)
    if (p.isEmpty) null else H3Bridge.longs(p)
  }

  def areNeighborCells(a: Long, b: Long): Boolean = H3Traversal.areNeighborCells(a, b)

  def cellsToDirectedEdge(a: Long, b: Long): java.lang.Long = {
    val e = H3Traversal.cellsToDirectedEdge(a, b)
    if (e == H3Core.H3Null) null else java.lang.Long.valueOf(e)
  }

  def edgeDestination(e: Long): java.lang.Long = {
    val d = H3Traversal.edgeDestination(e)
    if (d == H3Core.H3Null) null else java.lang.Long.valueOf(d)
  }

  def edgeReverse(e: Long): java.lang.Long = {
    val r = H3Traversal.edgeReverse(e)
    if (r == H3Core.H3Null) null else java.lang.Long.valueOf(r)
  }

  /** struct (origin, destination). */
  def edgeCells(e: Long): InternalRow = {
    if (!H3Core.isValidDirectedEdge(e)) return null
    val d = H3Traversal.edgeDestination(e)
    if (d == H3Core.H3Null) return null
    new GenericInternalRow(Array[Any](H3Core.edgeOrigin(e), d))
  }

  /** WKT LINESTRING of the edge boundary, (lng lat) order. */
  def edgeBoundaryWkt(e: Long): UTF8String = {
    if (!H3Core.isValidDirectedEdge(e)) return null
    val b = H3Traversal.edgeBoundaryRads(e)
    if (b.length < 2) return null
    val pts = b.map(v => s"${math.toDegrees(v.lng)} ${math.toDegrees(v.lat)}").mkString(", ")
    UTF8String.fromString(s"LINESTRING ($pts)")
  }

  def edgeLengthRads(e: Long): java.lang.Double =
    if (!H3Core.isValidDirectedEdge(e)) null
    else java.lang.Double.valueOf(H3Traversal.edgeLengthRads(e))

  def edgeLengthKm(e: Long): java.lang.Double =
    if (!H3Core.isValidDirectedEdge(e)) null
    else java.lang.Double.valueOf(H3Traversal.edgeLengthKm(e))

  def edgeLengthM(e: Long): java.lang.Double =
    if (!H3Core.isValidDirectedEdge(e)) null
    else java.lang.Double.valueOf(H3Traversal.edgeLengthM(e))

  def cellAreaRads2(h: Long): java.lang.Double =
    if (!H3Core.isValidCell(h)) null else java.lang.Double.valueOf(H3Geo.cellAreaRads2(h))

  def cellAreaKm2(h: Long): java.lang.Double =
    if (!H3Core.isValidCell(h)) null else java.lang.Double.valueOf(H3Geo.cellAreaKm2(h))

  def cellAreaM2(h: Long): java.lang.Double =
    if (!H3Core.isValidCell(h)) null else java.lang.Double.valueOf(H3Geo.cellAreaM2(h))

  /** struct (i, j) local coordinates anchored at origin. */
  def cellToLocalIj(origin: Long, h: Long): InternalRow =
    H3Traversal.cellToLocalIj(origin, h) match {
      case Some((i, j)) => new GenericInternalRow(Array[Any](i, j))
      case None => null
    }

  def localIjToCell(origin: Long, i: Int, j: Int): java.lang.Long =
    H3Traversal.localIjToCell(origin, i, j) match {
      case Some(c) => java.lang.Long.valueOf(c)
      case None => null
    }

  def polygonToCells(wkt: UTF8String, res: Int): ArrayData = {
    if (wkt == null || res < 0 || res > 15) return null
    val cells = H3Polygon.polygonToCells(wkt.toString, res)
    H3Bridge.longs(cells)
  }

  def polygonToCellsIntersecting(wkt: UTF8String, res: Int): ArrayData = {
    if (wkt == null || res < 0 || res > 15) return null
    val cells = H3Polygon.polygonToCellsIntersecting(wkt.toString, res)
    H3Bridge.longs(cells)
  }

  def lineStringToCells(wkt: UTF8String, res: Int): ArrayData = {
    if (wkt == null || res < 0 || res > 15) return null
    val cells = H3Polygon.lineStringToCells(wkt.toString, res)
    H3Bridge.longs(cells)
  }

  def geometryToCells(wkt: UTF8String, res: Int): ArrayData = {
    if (wkt == null || res < 0 || res > 15) return null
    val cells = H3Polygon.geometryToCells(wkt.toString, res)
    H3Bridge.longs(cells)
  }

  def cellIntersectsPolygon(h: Long, wkt: UTF8String): java.lang.Boolean = {
    if (!H3Core.isValidCell(h) || wkt == null) return null
    H3Polygon.parseMultiPolygonWkt(wkt.toString) match {
      case Some(polys) => java.lang.Boolean.valueOf(polys.exists(H3Polygon.cellIntersectsPolygon(h, _)))
      case None => null
    }
  }

  def cellContainsPoint(h: Long, lat: Double, lng: Double): java.lang.Boolean = {
    if (!H3Core.isValidCell(h)) return null
    val res = H3Core.getResolution(h)
    java.lang.Boolean.valueOf(H3Geo.latLngToCell(lat, lng, res) == h)
  }

  /** exact average hexagon area at a res: (sphere - 12 pentagons) / hex count. */
  private lazy val avgHexAreaKm2: Array[Double] = Array.tabulate(16) { res =>
    var pent = H3Core.res0Cells()(4) // pentagon bc 4
    if (res > 0) pent = H3Core.cellToCenterChild(pent, res)
    val pentArea = H3Geo.cellAreaKm2(pent)
    val r = H3Geo.EarthRadiusKm
    val total = 4.0 * math.Pi * r * r
    var hexCount = 120.0
    (1 to res).foreach(_ => hexCount *= 7.0)
    (total - 12.0 * pentArea) / (hexCount - 10.0)
  }

  /** C3 as a projection kernel: compact an array of cells. */
  def compactCells(cells: ArrayData): ArrayData = {
    if (cells == null) return null
    H3Bridge.longs(H3Core.compactCells(cells.toLongArray()))
  }

  /** G8 dissolve: array of cells -> merged WKT MULTIPOLYGON. */
  def cellsToMultiPolygonWkt(cells: ArrayData, smoothen: Boolean): UTF8String = {
    if (cells == null) return null
    UTF8String.fromString(H3Polygon.cellsToMultiPolygonWkt(cells.toLongArray(), smoothen))
  }

  def hexagonAreaAvgKm2(res: Int): java.lang.Double =
    if (res < 0 || res > 15) null else java.lang.Double.valueOf(avgHexAreaKm2(res))

  def hexagonAreaAvgM2(res: Int): java.lang.Double =
    if (res < 0 || res > 15) null else java.lang.Double.valueOf(avgHexAreaKm2(res) * 1e6)

  /** E7: average directed-edge length at a res (directed_edge.rs:53-70),
    * table-backed (H3Tables.edgeLengthAvgKm). */
  def edgeLengthAvgKm(res: Int): java.lang.Double =
    if (res < 0 || res > 15) null
    else java.lang.Double.valueOf(graft.h3.H3Tables.edgeLengthAvgKm(res))

  def edgeLengthAvgM(res: Int): java.lang.Double =
    if (res < 0 || res > 15) null
    else java.lang.Double.valueOf(graft.h3.H3Tables.edgeLengthAvgKm(res) * 1000.0)

  /** E7: approximate centroid distance of neighbors at a res = avg edge
    * length x sqrt(3) (directed_edge.rs:71-78,299-301). */
  def cellCentroidDistanceAvgM(res: Int): java.lang.Double =
    if (res < 0 || res > 15) null
    else java.lang.Double.valueOf(
      graft.h3.H3Tables.edgeLengthAvgKm(res) * 1000.0 * math.sqrt(3.0))

  /** G3 on raw coordinate arrays (no WKT round-trip): trace the polyline
    * through lineStringToCells — bit-identical to the WKT path, which is
    * what lets OSM ingestion ([[graft.graph.H3Graph.graphFromOsm]]) share
    * the linestring trace without lossy double→string formatting. */
  def pointsToCells(lons: ArrayData, lats: ArrayData, res: Int): ArrayData = {
    // parallel arrays of different lengths are a malformed call, not a
    // shorter linestring: NULL (the expression's nullable contract), never
    // a plausible-but-wrong truncated trace
    if (lons.numElements() != lats.numElements()) return null
    val n = lons.numElements()
    val pts = new Array[(Double, Double)](n)
    var i = 0
    while (i < n) { pts(i) = (lons.getDouble(i), lats.getDouble(i)); i += 1 }
    H3Bridge.longs(H3Polygon.lineStringToCells(pts, res))
  }
}
