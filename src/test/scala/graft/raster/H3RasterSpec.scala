package graft.raster

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.h3.{H3Core, H3Geo}

class H3RasterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import H3Raster._

  test("transform inverse roundtrips pixel coordinates (R4)") {
    val t = Transform(0.01, 0.002, -122.5, -0.001, -0.01, 37.9)
    val inv = t.invert
    for ((px, py) <- Seq((0.0, 0.0), (10.5, 3.25), (-4.0, 100.0))) {
      val (x, y) = t.forward(px, py)
      val (rx, ry) = inv.forward(x, y)
      assert(math.abs(rx - px) < 1e-9 && math.abs(ry - py) < 1e-9)
    }
  }

  test("fromGdal and fromRasterio orderings map the same geotransform to the same cells (R4)") {
    // the same affine map, expressed in both public coefficient orderings
    // (reference h3ron-ndarray/src/transform.rs:43-66): rasterio is
    // [a, b, c, d, e, f]; GDAL GetGeoTransform is [c, a, b, f, d, e]
    val rio = Seq(0.02, 0.001, -122.5, -0.0005, -0.02, 37.9)
    val gdal = Seq(rio(2), rio(0), rio(1), rio(5), rio(3), rio(4))
    val tR = Transform.fromRasterio(rio)
    val tG = Transform.fromGdal(gdal)
    assert(tR == tG)
    assert(Transform.fromArray(rio) == tR, "fromArray IS the rasterio ordering")
    for ((px, py) <- Seq((0.0, 0.0), (7.5, 3.25), (15.0, 15.0)))
      assert(tR.forward(px, py) == tG.forward(px, py))
    // end to end: both orderings produce the identical cell set
    val w = 16; val h = 16
    val values = Array.tabulate(w * h)(i => (i % 7).toDouble)
    def cells(t: Transform) =
      rasterToCells(tileRaster(spark, w, h, t, values, nodata = -1.0, tile = 8), res = 7)
        .as[(Double, Long)].collect().toSet
    val a = cells(tR)
    assert(a.nonEmpty && a == cells(tG))
  }

  test("nodata-only tiles are pruned before any H3 work (R2)") {
    val w = 32; val h = 32
    val t = Transform.northUp(-122.5, 37.9, 0.01, 0.01)
    // left half data, right half nodata
    val values = Array.tabulate(w * h)(i => if (i % w < w / 2) 5.0 else -1.0)
    val tiles = tileRaster(spark, w, h, t, values, nodata = -1.0, tile = 16)
    assert(tiles.count() == 4)
    assert(tiles.filter($"has_data").count() == 2, "right-half tiles are nodata-only")
    // conversion only reads data-bearing tiles and only emits data pixels
    val cells = rasterToCells(tiles, res = 7)
    assert(cells.select($"value").distinct().as[Double].collect().toSeq == Seq(5.0))
  }

  test("NaN pixel values are preserved as values, pruned only as declared nodata (array.rs preserve_nan_values)") {
    val w = 8; val h = 8
    val t = Transform.northUp(-122.5, 37.9, 0.02, 0.02)
    // left half NaN, right half 1.0
    val values = Array.tabulate(w * h)(i => if (i % w < w / 2) Double.NaN else 1.0)
    // no nodata configured: NaN is a value group like any other (the
    // reference's cell_map carries both the NAN and the 1.0 keys)
    val noNodata = tileRaster(spark, w, h, t, values, nodata = None, tile = 8)
    val groups = rasterToCells(noNodata, res = 7)
      .groupBy($"value").count().collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(groups.keys.exists(_.isNaN), "NaN value group must be preserved")
    assert(groups.contains(1.0))
    // NaN declared AS nodata: NaN pixels pruned, 1.0 kept
    val nanNodata = tileRaster(spark, w, h, t, values, nodata = Double.NaN, tile = 8)
    val pruned = rasterToCells(nanNodata, res = 7)
      .select($"value").distinct().as[Double].collect()
    assert(pruned.toSeq == Seq(1.0))
    // hasData: a tile that is ALL NaN under NaN-nodata is prunable
    val allNan = tileRaster(spark, w, h, t, Array.fill(w * h)(Double.NaN),
      nodata = Double.NaN, tile = 8)
    assert(allNan.filter($"has_data").count() == 0)
    // ...but an all-NaN tile with NO nodata declared carries NaN as plain
    // pixel values: has_data=true and the NaN value group survives the
    // pruning filter end-to-end
    val allNanNoMarker = tileRaster(spark, w, h, t, Array.fill(w * h)(Double.NaN),
      nodata = None, tile = 8)
    assert(allNanNoMarker.filter($"has_data").count() == allNanNoMarker.count())
    val nanGroups = rasterToCells(allNanNoMarker, res = 7)
      .select($"value").as[Double].collect()
    assert(nanGroups.nonEmpty && nanGroups.forall(_.isNaN))
  }

  test("find_boxes_containing_data fixture: boxes cover all data in far less than half the area (array.rs:378-411)") {
    // the reference's exact 12x9 fragmented-clusters fixture
    val rows = Seq(
      "000000000000",
      "010000001000",
      "011000011100",
      "000000011100",
      "000000001000",
      "000000000000",
      "000100000000",
      "000100000011",
      "000110000011")
    val w = 12; val h = 9
    val values = rows.flatMap(_.map(_.toString.toDouble)).toArray
    val boxes = H3Raster.dataBoxes(values, w, h, _ == 0.0)
    // invariant 1: total box coverage is far below half the elements
    val covered = boxes.map { case (_, _, bw, bh) => bw * bh }.sum
    assert(covered < (w * h) / 2, s"boxes cover $covered of ${w * h}")
    // invariant 2: every data pixel is inside some box
    for (y <- 0 until h; x <- 0 until w if values(y * w + x) != 0.0)
      assert(boxes.exists { case (bx, by, bw, bh) =>
        x >= bx && x < bx + bw && y >= by && y < by + bh }, s"pixel ($x,$y) uncovered")
    // the EXACT decomposition the three chunk passes produce on this
    // fixture (hand-derived): any algorithm regression changes this set
    assert(boxes.toSet == Set((1, 1, 2, 2), (3, 6, 2, 3), (7, 1, 3, 4), (10, 7, 2, 2)),
      s"boxes: $boxes")
  }

  test("data-box pruning law: pruned conversion == unpruned conversion minus nodata (3 seeds)") {
    // with NO nodata declared, dataBoxes never runs (full-window path);
    // declaring the marker must yield exactly the full conversion minus
    // the marker-valued cells — pins the decomposition + margin logic
    // end-to-end on arbitrary fragmented data
    for (seed <- Seq(7, 21, 63)) {
      val rnd = new scala.util.Random(seed)
      val w = 12 + rnd.nextInt(9); val h = 12 + rnd.nextInt(9)
      val t = Transform.northUp(-120.0 + rnd.nextInt(10), 40.0 + rnd.nextInt(5), 0.03, 0.03)
      val values = Array.fill(w * h)(rnd.nextInt(4).toDouble) // 0 = marker
      val pruned = rasterToCells(
        tileRaster(spark, w, h, t, values, nodata = 0.0, tile = 8), res = 7)
        .as[(Double, Long)].collect().toSet
      val full = rasterToCells(
        tileRaster(spark, w, h, t, values, nodata = None, tile = 8), res = 7)
        .as[(Double, Long)].collect().toSet
      assert(pruned == full.filter(_._1 != 0.0), s"seed $seed (${w}x$h)")
    }
  }

  test("sampled cell values match direct pixel lookup (R1)") {
    val w = 16; val h = 16
    val t = Transform.northUp(-122.5, 37.9, 0.02, 0.02)
    // value encodes the pixel position -> verifiable per cell
    val values = Array.tabulate(w * h)(i => (i / w) * 100.0 + (i % w))
    val tiles = tileRaster(spark, w, h, t, values, nodata = -1.0, tile = 8)
    val out = rasterToCells(tiles, res = 8).as[(Double, Long)].collect()
    assert(out.nonEmpty)
    val inv = t.invert
    out.foreach { case (v, cell) =>
      assert(H3Core.isValidCell(cell))
      val g = H3Geo.cellToLatLng(cell)
      val (pxD, pyD) = inv.forward(g.lng, g.lat)
      val px = math.floor(pxD).toInt; val py = math.floor(pyD).toInt
      assert(v == py * 100.0 + px, s"cell ${cell.toHexString} sampled wrong pixel")
    }
    // no duplicate cells across tiles (margin polyfill must not double-emit)
    assert(out.map(_._2).distinct.length == out.length)
  }

  test("value-grouped compaction emits compacted arrays (R1 tail)") {
    val w = 32; val h = 32
    val t = Transform.northUp(-122.5, 37.9, 0.02, 0.02)
    val values = Array.fill(w * h)(7.0)
    val tiles = tileRaster(spark, w, h, t, values, nodata = -1.0, tile = 16)
    val grouped = rasterToCompactedCells(tiles, res = 8).as[(Double, Seq[Long])].collect()
    assert(grouped.length == 1 && grouped.head._1 == 7.0)
    val cells = grouped.head._2
    // compaction did something: mixed resolutions present or fewer cells
    val plain = rasterToCells(tiles, res = 8).count()
    assert(cells.length < plain, s"compact ${cells.length} !< raw $plain")
    // roundtrip: uncompacting reproduces exactly the raw cell set
    val raw = rasterToCells(tiles, res = 8).select($"cell").as[Long].collect().toSet
    val un = cells.flatMap(H3Core.uncompactCell(_, 8)).toSet
    assert(un == raw)
  }

  test("rasterToCells reads tile fields by name: permuted tile columns give the same cells") {
    val w = 16; val h = 16
    val t = Transform.northUp(-122.5, 37.9, 0.02, 0.02)
    val values = Array.tabulate(w * h)(i => if (i % 5 == 0) -1.0 else (i % 7).toDouble)
    val tiles = tileRaster(spark, w, h, t, values, nodata = -1.0, tile = 8)
    val want = rasterToCells(tiles, res = 8).as[(Double, Long)].collect().toSet
    val permuted = tiles.select(tiles.columns.reverse.map(col).toSeq: _*)
    assert(permuted.columns.toSeq != tiles.columns.toSeq)
    val got = rasterToCells(permuted, res = 8).as[(Double, Long)].collect().toSet
    assert(want.nonEmpty && !want.exists(_._1 == -1.0))
    assert(got == want)
  }

  test("nearest resolution picks by pixel area; smallerThanPixel is finer (R3)") {
    val coarse = Transform.northUp(0, 45, 1.0, 1.0) // ~1 degree pixels
    val fine = Transform.northUp(0, 45, 0.001, 0.001)
    val rc = nearestH3Resolution(coarse)
    val rf = nearestH3Resolution(fine)
    assert(rc < rf, s"coarser pixels must pick coarser res ($rc vs $rf)")
    assert(nearestH3Resolution(coarse, smallerThanPixel = true) >= rc)
    assert(nearestH3Resolution(fine, smallerThanPixel = true) >= rf)
  }
}
