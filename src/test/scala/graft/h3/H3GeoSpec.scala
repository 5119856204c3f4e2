package graft.h3

import org.scalatest.funsuite.AnyFunSuite
import java.lang.Math._

/**
 * Geometry + traversal invariants: the derived icosahedron and base-cell
 * tables, coordinate roundtrips, areas, boundaries and edge lengths
 * against the published H3 tables, and the grid traversal laws.
 */
class H3GeoSpec extends AnyFunSuite {
  import H3Geo._
  import H3Traversal._

  def sampleCells(res: Int): Array[Long] =
    H3Core.res0Cells().map { c =>
      var h = c
      for (r <- 1 to res) h = H3Core.withDigit(H3Core.withRes(h, r), r, if (r % 3 == 0) 2 else 0)
      h
    }

  test("canonical goldens (public H3 docs)") {
    assert(latLngToCell(37.3615593, -122.0553238, 7) == 0x87283472bffffffL)
    assert(latLngToCell(37.7752702151959257, -122.418307270836565, 9) == 0x8928308280fffffL)
    val g = cellToLatLng(0x85283473fffffffL)
    assert(abs(g.lat - 37.34579337536848) < 1e-9 && abs(g.lng - -121.97637597255124) < 1e-9)
  }

  test("coordinate roundtrip at every res for every base cell") {
    val rnd = new scala.util.Random(7)
    for (bc <- 0 until 122) {
      var h = H3Core.res0Cells()(bc)
      for (r <- 1 to 15) {
        val pent = H3Core.isPentagon(h)
        var d = rnd.nextInt(7)
        if (pent && d == 1) d = 0
        h = H3Core.withDigit(H3Core.withRes(h, r), r, d)
        if (r <= 10) {
          val g = cellToLatLng(h)
          assert(latLngToCell(g.lat, g.lng, r) == h, s"res $r bc $bc ${h.toHexString}")
        }
      }
    }
  }

  test("res-0 cells tile the sphere to exactly 4 pi") {
    for (res <- 0 to 1) {
      val total = H3Core.res0Cells().flatMap(H3Core.cellToChildren(_, res)).map(cellAreaRads2).sum
      assert(abs(total - 4 * PI) < 1e-9, s"res $res")
    }
  }

  test("icosahedron: unit face centers at the dodecahedral pairwise angles; axis azimuths in [0, 2 pi)") {
    val pts = faceCenterPoint
    assert(pts.length == 20)
    pts.foreach(p => assert(abs(p(0) * p(0) + p(1) * p(1) + p(2) * p(2) - 1.0) < 1e-12))
    // the 20 face centers are the vertices of a dodecahedron: each has 3
    // neighbours at cos = sqrt(5)/3, 6 at 1/3, 6 at -1/3, 3 at -sqrt(5)/3
    // and its antipode at -1 — 190 pairs in five classes
    val classes = Seq(sqrt(5) / 3 -> 30, 1.0 / 3 -> 60, -1.0 / 3 -> 60, -sqrt(5) / 3 -> 30, -1.0 -> 10)
    val dots = for (a <- 0 until 20; b <- a + 1 until 20)
      yield pts(a)(0) * pts(b)(0) + pts(a)(1) * pts(b)(1) + pts(a)(2) * pts(b)(2)
    for ((cos, n) <- classes) assert(dots.count(d => abs(d - cos) < 1e-9) == n, s"cos $cos")
    assert(faceAxesAz0.length == 20 && faceAxesAz0.forall(a => a >= 0.0 && a < 2 * PI))
  }

  test("faceIjkBaseCells covers all 122 base cells; home positions resolve to themselves with rotation 0") {
    val seen = for (f <- 0 until 20; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2)
      yield faceIjkBaseCells(f)(i)(j)(k)(0)
    assert(seen.toSet == (0 until 122).toSet)
    for (bc <- 0 until 122) {
      val d = baseCellData(bc)
      val e = faceIjkBaseCells(d(0))(d(1))(d(2))(d(3))
      assert(e(0) == bc && e(1) == 0, s"base cell $bc resolves to ${e(0)} rotation ${e(1)}")
    }
  }

  test("boundaries at res 4 and 5 for every base cell: all vertices, no far vertex") {
    for (bc <- 0 until 122; res <- 4 to 5) {
      var h = H3Core.res0Cells()(bc)
      for (r <- 1 to res) h = H3Core.withDigit(H3Core.withRes(h, r), r, 0)
      val c = cellToLatLngRads(h)
      val verts = cellToBoundaryRads(h)
      assert(verts.length >= (if (H3Core.isPentagon(h)) 5 else 6), s"bc $bc res $res")
      val dists = verts.map(greatCircleDistanceRads(c, _))
      assert(dists.max <= 3 * dists.min, s"bc $bc res $res: vertex distance ratio")
    }
  }

  test("average res-0 hexagon area matches the published H3 table") {
    val hexes = H3Core.res0Cells().filterNot(H3Core.isPentagon)
    val avg = hexes.map(cellAreaKm2).sum / hexes.length
    assert(abs(avg - 4357449.416078381) / 4357449.0 < 1e-6)
  }

  test("gridDisk law: 3k(k+1)+1 away from pentagons; members roundtrip") {
    for (c <- sampleCells(8).take(30); k <- 1 to 2) {
      val disk = gridDisk(c, k)
      if (!disk.exists(H3Core.isPentagon))
        assert(disk.length == H3Core.maxGridDiskSize(k), s"${c.toHexString} k=$k")
      for (m <- disk) {
        val g = cellToLatLng(m)
        assert(latLngToCell(g.lat, g.lng, H3Core.getResolution(m)) == m)
      }
    }
  }

  test("sampled res-8 average edge length matches the published 0.461 km") {
    val cells = sampleCells(8).filterNot(H3Core.isPentagon).take(40)
    val lens = cells.flatMap(c => H3Core.originToDirectedEdges(c).map(edgeLengthKm))
    val avg = lens.sum / lens.length
    assert(avg > 0.40 && avg < 0.53, s"average $avg km")
  }

  test("pentagon disk k=1 has 5 neighbors") {
    for (bc <- H3Core.pentagonBaseCells) {
      var p = H3Core.res0Cells()(bc)
      for (r <- 1 to 4) p = H3Core.withDigit(H3Core.withRes(p, r), r, 0)
      assert(gridDisk(p, 1).length == 6)
    }
  }

  test("k = 1 disk and ring equal the BFS: every res 0-3 cell, pentagon neighbourhoods at res 4-15") {
    val cells = (0 to 3).iterator.flatMap(r => H3Core.res0Cells().iterator.flatMap(H3Core.cellToChildren(_, r))) ++
      (for (bc <- H3Core.pentagonBaseCells.iterator; r <- (4 to 15).iterator)
        yield H3Core.cellToCenterChild(H3Core.res0Cells()(bc), r)).flatMap(gridDiskDistancesMap(_, 2).keys)
    var n = 0
    for (c <- cells) {
      val bfs = gridDiskDistancesMap(c, 1)
      val disk = bfs.keys.toArray.sorted
      val ring = bfs.iterator.collect { case (m, 1) => m }.toArray.sorted
      val gotDisk = gridDisk(c, 1)
      val gotRing = gridRing(c, 1)
      assert(gotDisk.sameElements(disk), s"disk ${c.toHexString}")
      assert(gotRing.sameElements(ring), s"ring ${c.toHexString}")
      assert(gotDisk.distinct.length == gotDisk.length && gotRing.distinct.length == gotRing.length)
      n += 1
    }
    assert(n > 48000)
    assert(gridDisk(0L, 1).isEmpty && gridRing(0L, 1).isEmpty)
  }

  test("grid ring 1 of 89283080ddbffff has 6 valid cells (cell.rs:521)") {
    val ring = gridRing(0x89283080ddbffffL, 1)
    assert(ring.length == 6 && ring.forall(H3Core.isValidCell))
  }

  test("gridDistance to ring members equals k (cell.rs:621)") {
    val idx = 0x89283080ddbffffL
    assert(gridDistance(idx, idx) == 0)
    for (k <- 1 to 3; m <- gridRing(idx, k))
      assert(gridDistance(idx, m) == k)
  }

  test("localIj roundtrip (localij.rs:103)") {
    val origin = 0x89283080ddbffffL
    for (m <- gridDisk(origin, 2)) {
      cellToLocalIj(origin, m).foreach { case (i, j) =>
        assert(localIjToCell(origin, i, j).contains(m))
      }
    }
  }

  test("edge destination/reverse roundtrip (cell.rs:667 can_find_edge_to)") {
    val idx = 0x89283080ddbffffL
    val ring = gridRing(idx, 1)
    for (n <- ring) {
      val eTo = cellsToDirectedEdge(idx, n)
      val eFrom = cellsToDirectedEdge(n, idx)
      assert(eTo != H3Core.H3Null && eFrom != H3Core.H3Null && eTo != eFrom)
      assert(edgeDestination(eTo) == n && H3Core.edgeOrigin(eTo) == idx)
      assert(edgeDestination(eFrom) == idx && H3Core.edgeOrigin(eFrom) == n)
    }
    // wrong neighbor fails (cell.rs:684)
    assert(cellsToDirectedEdge(idx, 0x8a2a1072b59ffffL) == H3Core.H3Null)
  }

  test("gridPathCells connects endpoints with neighbor steps (lib.rs:152)") {
    val start = 0x85285aa7fffffffL
    val end = 0x851d9b1bfffffffL
    val path = gridPathCells(start, end)
    if (path.nonEmpty) {
      assert(path.head == start && path.last == end)
      for (w <- path.sliding(2) if w.length == 2) assert(areNeighborCells(w(0), w(1)))
    }
    // short path in one base cell always works
    val c = 0x89283080ddbffffL
    val f = gridRing(c, 3).head
    val p2 = gridPathCells(c, f)
    assert(p2.length == 4 && p2.head == c && p2.last == f)
  }

  test("maxPolygonToCellsSize bounds the actual polyfill (G6)") {
    val wkt = "POLYGON ((-122.5 37.6, -122.2 37.6, -122.2 37.9, -122.5 37.9, -122.5 37.6))"
    for (res <- 5 to 7) {
      val actual = H3Polygon.polygonToCells(wkt, res).length
      val bound = H3Polygon.maxPolygonToCellsSize(wkt, res)
      assert(actual <= bound, s"res $res: actual $actual > bound $bound")
      assert(bound < actual * 4 + 64, s"res $res: bound $bound not useful vs $actual")
    }
  }

  test("antimeridian-crossing polyfill: Fiji rect covers both hemispheres") {
    // a rect spanning 179E..179W at Fiji latitudes
    val crossing = "POLYGON ((179.0 -17.5, -179.0 -17.5, -179.0 -16.5, 179.0 -16.5, 179.0 -17.5))"
    val east = "POLYGON ((179.0 -17.5, 180.0 -17.5, 180.0 -16.5, 179.0 -16.5, 179.0 -17.5))"
    val west = "POLYGON ((-180.0 -17.5, -179.0 -17.5, -179.0 -16.5, -180.0 -16.5, -180.0 -17.5))"
    for (res <- 4 to 6) {
      val got = H3Polygon.polygonToCells(crossing, res)
      val eastSide = got.filter(c => H3Geo.cellToLatLng(c).lng > 0)
      val westSide = got.filter(c => H3Geo.cellToLatLng(c).lng < 0)
      assert(eastSide.nonEmpty, s"res $res: no cells east of the antimeridian")
      assert(westSide.nonEmpty, s"res $res: no cells west of the antimeridian")
      // equals the union of the two halves split at +-180
      val halves = (H3Polygon.polygonToCells(east, res) ++
        H3Polygon.polygonToCells(west, res)).distinct.sorted
      assert(got.toSeq == halves.toSeq,
        s"res $res: crossing ${got.length} cells != split-halves union ${halves.length}")
      // every centroid is wrap-inside the lat/lng box
      assert(got.forall { c =>
        val g = H3Geo.cellToLatLng(c)
        g.lat > -17.5 && g.lat < -16.5 && (g.lng >= 179.0 || g.lng <= -179.0)
      })
    }
  }

  test("antimeridian-crossing intersecting polyfill and cell predicate") {
    val crossing = "POLYGON ((179.5 -17.5, -179.5 -17.5, -179.5 -16.5, 179.5 -16.5, 179.5 -17.5))"
    val res = 5
    val centroidIn = H3Polygon.polygonToCells(crossing, res)
    val intersecting = H3Polygon.polygonToCellsIntersecting(crossing, res)
    // centroid polyfill is a subset of the intersecting polyfill, which
    // adds a boundary fringe on both sides of the seam
    assert(centroidIn.toSet.subsetOf(intersecting.toSet))
    assert(intersecting.length > centroidIn.length)
    assert(intersecting.exists(c => H3Geo.cellToLatLng(c).lng > 0) &&
      intersecting.exists(c => H3Geo.cellToLatLng(c).lng < 0))
    // standalone predicate agrees with the intersecting set on a disk
    // straddling the seam, and rejects a far-away cell near lng 0
    val seam = H3Geo.latLngToCell(-17.0, 179.99, res)
    val poly = H3Polygon.parsePolygonWkt(crossing).get
    for (c <- graft.h3.H3Traversal.gridDisk(seam, 3))
      assert(H3Polygon.cellIntersectsPolygon(c, poly) == intersecting.contains(c))
    val greenwich = H3Geo.latLngToCell(-17.0, 0.01, res)
    assert(!H3Polygon.cellIntersectsPolygon(greenwich, poly))
    // size bound stays tight in the shifted frame (no ~360deg bbox blowup)
    val bound = H3Polygon.maxPolygonToCellsSize(crossing, res)
    assert(centroidIn.length <= bound && bound < centroidIn.length * 4 + 64)
  }

  /** cap ring at constant latitude: eastward for north caps (interior on
    * the left of travel), westward for south caps. */
  private def capRingWkt(lat: Double, north: Boolean): String = {
    val lngs = if (north) -180 until 180 by 20 else 180 until -180 by -20
    val pts = (lngs.map(l => s"$l $lat") :+ s"${lngs.head} $lat").mkString(", ")
    s"POLYGON (($pts))"
  }

  test("polar-cap polyfill: winding detection, pole coverage, complement law") {
    val res = 2
    val north = capRingWkt(75.0, north = true)
    val poly = H3Polygon.parsePolygonWkt(north).get
    assert(H3Polygon.poleEnclosed(poly.rings.head) == 1)

    val cells = H3Polygon.polygonToCells(north, res)
    assert(cells.nonEmpty)
    // the cell holding the pole is in; its antipode is not
    val poleCell = H3Geo.latLngToCell(89.9999, 0.0, res)
    assert(cells.contains(poleCell))
    assert(!cells.contains(H3Geo.latLngToCell(-89.9999, 0.0, res)))
    // exactly the cells with centroid latitude above the ring
    val all = H3Core.res0Cells().flatMap(c => H3Core.cellToChildren(c, res))
    val want = all.filter(c => H3Geo.cellToLatLng(c).lat > 75.0).sorted
    assert(cells.toSeq == want.toSeq)

    // south cap mirrors
    val south = H3Polygon.polygonToCells(capRingWkt(-75.0, north = false), res)
    assert(south.nonEmpty &&
      south.forall(c => H3Geo.cellToLatLng(c).lat < -75.0) &&
      south.contains(H3Geo.latLngToCell(-89.9999, 0.0, res)))
  }

  test("polar band (cap shell + cap hole) and intersecting superset law") {
    val res = 2
    // band between lat 60 and 80: north-cap shell at 60, north-cap hole at 80
    val shell = (-180 until 180 by 20).map(l => s"$l 60.0")
    val hole = (-180 until 180 by 20).map(l => s"$l 80.0")
    val band = s"POLYGON ((${(shell :+ shell.head).mkString(", ")}), " +
      s"(${(hole :+ hole.head).mkString(", ")}))"
    val cells = H3Polygon.polygonToCells(band, res)
    assert(cells.nonEmpty)
    val lats = cells.map(c => H3Geo.cellToLatLng(c).lat)
    assert(lats.forall(l => l > 60.0 && l < 80.0))

    // intersecting polyfill is a superset of centroid polyfill (G5 law)
    val cap = capRingWkt(75.0, north = true)
    val centroidIn = H3Polygon.polygonToCells(cap, res).toSet
    val intersecting = H3Polygon.polygonToCellsIntersecting(cap, res)
    assert(centroidIn.subsetOf(intersecting.toSet))
    // every centroid-in cell satisfies the standalone intersect predicate
    val poly = H3Polygon.parsePolygonWkt(cap).get
    assert(centroidIn.forall(H3Polygon.cellIntersectsPolygon(_, poly)))
    // boundary-straddling cells are in the intersecting set but not the
    // centroid set on one side: the sets differ at the ring latitude
    assert(intersecting.length > centroidIn.size)
  }
}
