package graft.h3

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the geometry kernels' output bits. One 64-bit fingerprint covers
 * `cellToLatLng`, `cellToBoundary`, `latLngToCell` of the centroid and
 * `cellAreaKm2` over every res 0-2 cell, the 12 pentagons' centre children
 * at res 0-15 with their k = 2 disks, and seeded uniform-sphere cells at
 * every resolution. The constant was computed before the kernels moved off
 * the JDK's native inverse trig; any change to a kernel's arithmetic (an
 * operation reordered, a library call swapped) moves it. The oracle
 * comparisons of the geo catalog are hash-exact, so they rely on these
 * bits staying put.
 */
class GeometryPinSpec extends AnyFunSuite {
  import GeometryPinSpec._

  test("geometry kernels keep their output bits (fingerprint over 410k cells)") {
    val cells = pinnedCells()
    assert(cells.length > 400000, s"${cells.length} cells")
    val got = fingerprint(cells)
    assert(got == Expected, f"fingerprint 0x$got%016xL over ${cells.length} cells")
  }
}

object GeometryPinSpec {
  final val Expected = 0x5f77e8927b8acd5aL

  final val SeededPerRes = 25000

  /** the fingerprinted cells, in a fixed order. */
  def pinnedCells(): Array[Long] = {
    val out = Array.newBuilder[Long]
    for (r <- 0 to 2) out ++= H3Core.res0Cells().flatMap(H3Core.cellToChildren(_, r))
    for (bc <- H3Core.pentagonBaseCells; r <- 0 to 15) {
      val centre = H3Core.cellToCenterChild(H3Core.res0Cells()(bc), r)
      out ++= H3Traversal.gridDisk(centre, 2)
    }
    // uniform on the sphere: z = sin(lat) uniform in [-1, 1]; StrictMath so
    // the inputs do not depend on the kernels under test
    val rnd = new java.util.Random(20261019L)
    for (r <- 0 to 15; _ <- 0 until SeededPerRes) {
      val lat = StrictMath.toDegrees(StrictMath.asin(2.0 * rnd.nextDouble() - 1.0))
      val lng = 360.0 * rnd.nextDouble() - 180.0
      out += H3Geo.latLngToCell(lat, lng, r)
    }
    out.result()
  }

  /** FNV-1a over the 64-bit words of each cell's geometry. */
  def fingerprint(cells: Array[Long]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(v: Long): Unit = { h = (h ^ v) * 0x100000001b3L }
    def mixD(d: Double): Unit = mix(java.lang.Double.doubleToRawLongBits(d))
    for (c <- cells) {
      mix(c)
      val g = H3Geo.cellToLatLng(c)
      mixD(g.lat); mixD(g.lng)
      val verts = H3Geo.cellToBoundary(c)
      mix(verts.length.toLong)
      verts.foreach { v => mixD(v.lat); mixD(v.lng) }
      mix(H3Geo.latLngToCell(g.lat, g.lng, H3Core.getResolution(c)))
      mixD(H3Geo.cellAreaKm2(c))
    }
    h
  }
}
