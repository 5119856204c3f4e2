package graft.raster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.h3.{H3Core, H3Geo, H3Polygon}

/**
 * Raster -> H3 conversion (SURVEY.md §2.7, reference h3ron-ndarray).
 *
 * Model: a raster is a DataFrame of tiles —
 * `(tile_id, x0, y0, width, height, transform[6], values array<double>,
 * nodata)` — the Spark analogue of the reference's rect decomposition
 * (array.rs:166-244): its rayon-parallel tile loop IS Spark's partition
 * parallelism here. Conversion (R1, array.rs:246-347) runs per tile with no
 * shuffle: window -> geo bbox -> polyfill at the target res -> sample the
 * pixel under each cell centroid through the inverse transform -> emit
 * `(value, cell)`. Value grouping / compaction happen downstream as
 * ordinary `groupBy(value)` (+ `h3_compact_agg`), where the shuffle
 * replaces the reference's merge-maps step.
 *
 * Nodata pruning (R2) happens at two granularities, mirroring the
 * reference's `find_boxes_containing_data` rect decomposition
 * (array.rs:166-244): tiles carry `has_data` so all-nodata tiles prune
 * relationally (`WHERE has_data`) before any H3 work, and within a
 * surviving tile [[rasterToCells]] polyfills only the data-holding
 * sub-windows (data row range x column runs).
 */
object H3Raster {

  /** R4: 6-coefficient affine geotransform in the rasterio/affine
    * coefficient ORDER (the positional constructor is [[Transform.fromRasterio]];
    * GDAL's GetGeoTransform array order differs — use [[Transform.fromGdal]]):
    * xGeo = a*px + b*py + c ; yGeo = d*px + e*py + f (pixel centers at
    * px+0.5). Mirrors transform.rs:27-110. */
  final case class Transform(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
    def forward(px: Double, py: Double): (Double, Double) =
      (a * px + b * py + c, d * px + e * py + f)
    /** inverse transform; requires an invertible matrix. */
    def invert: Transform = {
      val det = a * e - b * d
      require(math.abs(det) > 1e-300, "degenerate geotransform")
      val ia = e / det; val ib = -b / det
      val id = -d / det; val ie = a / det
      Transform(ia, ib, -(ia * c + ib * f), id, ie, -(id * c + ie * f))
    }
    def toArray: Array[Double] = Array(a, b, c, d, e, f)
  }

  object Transform {
    def fromArray(x: Seq[Double]): Transform = Transform(x(0), x(1), x(2), x(3), x(4), x(5))
    /** rasterio/affine coefficient ordering `[a, b, c, d, e, f]` — row-major
      * upper 2x3 of the augmented matrix (reference
      * h3ron-ndarray/src/transform.rs:43-52). Identical to [[fromArray]];
      * named so call sites state which convention their six doubles use. */
    def fromRasterio(x: Seq[Double]): Transform = fromArray(x)
    /** GDAL GetGeoTransform ordering `[c, a, b, f, d, e]` — x-origin first,
      * then the x-row coefficients; y-origin fourth (reference
      * transform.rs:54-66). A GDAL-habituated user passing this ordering to
      * [[fromRasterio]] would get a silently-wrong grid; this constructor
      * exists so they don't have to permute by hand. */
    def fromGdal(x: Seq[Double]): Transform = Transform(x(1), x(2), x(0), x(4), x(5), x(3))
    /** north-up raster over a lng/lat window. */
    def northUp(lngMin: Double, latMax: Double, pxWidth: Double, pxHeight: Double): Transform =
      Transform(pxWidth, 0.0, lngMin, 0.0, -pxHeight, latMax)
  }

  val tileSchema: StructType = StructType(Seq(
    StructField("tile_id", LongType, nullable = false),
    StructField("x0", IntegerType, nullable = false),
    StructField("y0", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("transform", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nodata", DoubleType, nullable = true),
    StructField("has_data", BooleanType, nullable = false)))

  /** build a tiled raster DataFrame from a full in-memory grid (test/ingest
    * helper): row-major `values`, tiles of `tile x tile` pixels. `nodata =
    * None` means "no nodata declared" — the column is written null, every
    * non-empty tile is `has_data`, and NaN pixels flow through as plain
    * values (the same rule [[rasterToCells]]/[[graft.raster.GeoTiff]]
    * apply; reference preserve_nan_values, array.rs). */
  def tileRaster(spark: SparkSession, width: Int, height: Int, transform: Transform,
      values: Array[Double], nodata: Option[Double], tile: Int): DataFrame = {
    val rows = for {
      ty <- 0 until (height + tile - 1) / tile
      tx <- 0 until (width + tile - 1) / tile
    } yield {
      val x0 = tx * tile
      val y0 = ty * tile
      val w = math.min(tile, width - x0)
      val h = math.min(tile, height - y0)
      val vals = new Array[Double](w * h)
      var hasData = false
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val v = values((y0 + yy) * width + (x0 + xx))
          vals(yy * w + xx) = v
          // NaN-nodata convention: v != NaN is always true, so test isNaN
          hasData = hasData || (nodata match {
            case None => true // no marker declared: every pixel is data
            case Some(nd) => v != nd && !(nd.isNaN && v.isNaN)
          })
          xx += 1
        }
        yy += 1
      }
      Row((ty.toLong << 32) | tx.toLong, x0, y0, w, h, transform.toArray.toSeq, vals.toSeq,
        nodata.map(Double.box).orNull, hasData)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, math.min(rows.size, 32)),
      tileSchema)
  }

  /** Double-nodata convenience overload (the marker is always declared). */
  def tileRaster(spark: SparkSession, width: Int, height: Int, transform: Transform,
      values: Array[Double], nodata: Double, tile: Int): DataFrame =
    tileRaster(spark, width, height, transform, values, Some(nodata), tile)

  val cellValueSchema: StructType = StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("cell", LongType, nullable = false)))

  /**
   * R1: tiles -> (value, cell) rows at `res`. Per-tile, shuffle-free:
   * polyfill the tile's geo window (with one pixel of margin), sample the
   * pixel under each cell centroid via the inverse transform, skip nodata
   * and out-of-window cells. Mirrors array.rs:303-347
   * `convert_array_window`. Tile fields are read by name (any column
   * order), their indices resolved once from the schema.
   */
  def rasterToCells(tiles: DataFrame, res: Int): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(cellValueSchema)
    val schema = tiles.schema
    val iX0 = schema.fieldIndex("x0"); val iY0 = schema.fieldIndex("y0")
    val iW = schema.fieldIndex("width"); val iH = schema.fieldIndex("height")
    val iTransform = schema.fieldIndex("transform"); val iValues = schema.fieldIndex("values")
    val iNodata = schema.fieldIndex("nodata")
    tiles.filter(col("has_data")).mapPartitions { rows =>
      rows.flatMap { r =>
        val x0 = r.getInt(iX0); val y0 = r.getInt(iY0)
        val w = r.getInt(iW); val h = r.getInt(iH)
        val t = Transform.fromArray(r.getSeq[Double](iTransform))
        val values = r.getSeq[Double](iValues)
        // NaN is a pixel VALUE like any other unless declared as the
        // nodata marker (reference preserve_nan_values, array.rs tests):
        // with no nodata configured nothing is pruned; NaN nodata prunes
        // NaN pixels (== comparison is always false for NaN)
        val hasNodata = !r.isNullAt(iNodata)
        val nodata = if (hasNodata) r.getDouble(iNodata) else 0.0
        val inv = t.invert
        @inline def isNodata(v: Double): Boolean =
          hasNodata && (v == nodata || (nodata.isNaN && v.isNaN))

        // Sub-tile data windows — the reference's find_boxes_containing_data
        // rect decomposition, ported exactly (array.rs:44-125): polyfill
        // only boxes that actually hold data pixels. A cell is only ever
        // EMITTED when its centroid pixel is data, and that pixel lies
        // inside some box, so the output is identical — the nodata regions
        // just never pay the candidate-generation cost (on a 91%-nodata
        // mask like the reference's r.tiff this is most of the work at
        // fine res).
        val boxes: Seq[(Int, Int, Int, Int)] =
          if (!hasNodata) Seq((x0, y0, w, h))
          else dataBoxes(values, w, h, isNodata)
            .map { case (bx, by, bw, bh) => (x0 + bx, y0 + by, bw, bh) }

        // per data box: window corners -> geo bbox (1px margin for
        // rotation safety); lat clamped to the valid range (a whole-globe
        // tile's margin row would otherwise push past the pole). A window
        // >= 180 deg of longitude would trip H3Polygon's antimeridian
        // heuristic (a corner jump > 180 deg reads as a wrapped ring) and
        // collapse a whole-globe strip to a sliver — wide windows split
        // into < 120-deg slabs, planar by construction, with a hair of
        // overlap so a centroid exactly on a slab edge cannot fall
        // between slabs. One dedup set spans boxes AND slabs (margins can
        // overlap); the pixel test is idempotent, so each cell is
        // evaluated once.
        val seen = new java.util.HashSet[Long]()
        val candidates: Iterator[Long] = boxes.iterator.flatMap { case (bx0, by0, bw, bh) =>
          val corners = Seq(
            t.forward(bx0 - 1, by0 - 1), t.forward(bx0 + bw + 1, by0 - 1),
            t.forward(bx0 - 1, by0 + bh + 1), t.forward(bx0 + bw + 1, by0 + bh + 1))
          val lngMin = corners.map(_._1).min; val lngMax = corners.map(_._1).max
          val latMin = math.max(-90.0, corners.map(_._2).min)
          val latMax = math.min(90.0, corners.map(_._2).max)
          def slabPoly(a: Double, b: Double) = H3Polygon.Polygon(Array(Array(
            (a, latMin), (b, latMin), (b, latMax), (a, latMax), (a, latMin))))
          val slabCount = math.max(1, math.ceil((lngMax - lngMin) / 120.0).toInt)
          val step = (lngMax - lngMin) / slabCount
          val eps = 1e-7
          Iterator.range(0, slabCount).flatMap { i =>
            val a = math.max(lngMin, lngMin + i * step - eps)
            val b = math.min(lngMax, lngMin + (i + 1) * step + eps)
            H3Polygon.polygonToCells(slabPoly(a, b), res).iterator.filter(seen.add)
          }
        }

        candidates.flatMap { cell =>
          val g = H3Geo.cellToLatLng(cell)
          val (pxD, pyD) = inv.forward(g.lng, g.lat)
          val px = math.floor(pxD).toInt
          val py = math.floor(pyD).toInt
          if (px < x0 || px >= x0 + w || py < y0 || py >= y0 + h) Iterator.empty
          else {
            val v = values((py - y0) * w + (px - x0))
            if (isNodata(v)) Iterator.empty
            else Iterator.single(Row(v, cell))
          }
        }
      }
    }
  }

  /** The reference's `find_boxes_containing_data` (array.rs:44-125),
    * ported exactly: three passes of "continuous chunks" that split on any
    * fully-empty line — column chunks, row chunks within each, then a
    * column refinement per row chunk. Returns `(x, y, w, h)` boxes in
    * TILE-relative pixel coordinates; the union of boxes covers every
    * data pixel, and (as the reference's own test pins) fragmented data
    * yields boxes far smaller than the tile. Worst case (data in every
    * other column) emits one box per fragment, each paying polyfill
    * setup plus a 1px-margin overlap with its neighbors — bounded at
    * ~3x the merged-box candidate count, and the dedup set keeps the
    * output exact; the reference accepts the same trade ("far from
    * perfect", array.rs:73-76). */
  private[raster] def dataBoxes(values: scala.collection.Seq[Double], w: Int, h: Int,
      isNodata: Double => Boolean): Seq[(Int, Int, Int, Int)] = {
    // continuous index chunks [a, b] of lines with any data, where
    // `hasData(i)` tests line i within [0, n)
    def chunks(n: Int, hasData: Int => Boolean): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      var start = -1
      var i = 0
      while (i < n) {
        if (hasData(i)) { if (start < 0) start = i }
        else if (start >= 0) { out += ((start, i - 1)); start = -1 }
        i += 1
      }
      if (start >= 0) out += ((start, n - 1))
      out.result()
    }
    @inline def pixelHasData(x: Int, y: Int): Boolean = !isNodata(values(y * w + x))
    def colHasData(x: Int, yFrom: Int, yTo: Int): Boolean = {
      var y = yFrom
      while (y <= yTo) { if (pixelHasData(x, y)) return true; y += 1 }
      false
    }
    def rowHasData(y: Int, xFrom: Int, xTo: Int): Boolean = {
      var x = xFrom
      while (x <= xTo) { if (pixelHasData(x, y)) return true; x += 1 }
      false
    }
    for {
      (cx0, cx1) <- chunks(w, x => colHasData(x, 0, h - 1))
      (cy0, cy1) <- chunks(h, y => rowHasData(y, cx0, cx1))
      (sx0, sx1) <- chunks(cx1 - cx0 + 1, i => colHasData(cx0 + i, cy0, cy1))
    } yield (cx0 + sx0, cy0, sx1 - sx0 + 1, cy1 - cy0 + 1)
  }

  /** R1 tail: value-grouped compacted cells — `(value, cells array)`. */
  def rasterToCompactedCells(tiles: DataFrame, res: Int): DataFrame =
    rasterToCells(tiles, res)
      .groupBy(col("value"))
      .agg(graft.functions.h3_compact_agg(col("cell")).as("cells"))

  /** R3: resolution whose average cell area best matches the pixel area
    * (resolution.rs:12-99); `smallerThanPixel` forces cells at least as
    * fine as a pixel. */
  /** Shape-aware resolution search — the reference's exact algorithm
    * (resolution.rs:23-88): pixel area is the Chamberlain-Duquette
    * spherical area of the WHOLE raster's bbox divided by the pixel count
    * (so a whole-globe raster doesn't get judged by one polar pixel), and
    * each candidate resolution is scored by the exact boundary area of the
    * cell at the bbox center, not the global average hexagon area. */
  def nearestH3Resolution(transform: Transform, width: Int, height: Int,
      smallerThanPixel: Boolean): Int = {
    require(width > 0 && height > 0, s"empty raster ${width}x$height")
    // reference bbox: pixel (0,0) to pixel (shape-1, shape-1), model space
    val (x1, y1) = transform.forward(0, 0)
    val (x2, y2) = transform.forward(width - 1, height - 1)
    val (lngMin, lngMax) = (math.min(x1, x2), math.max(x1, x2))
    val (latMin, latMax) = (math.min(y1, y2), math.max(y1, y2))
    val rectRing = Array((lngMin, latMin), (lngMin, latMax), (lngMax, latMax),
      (lngMax, latMin), (lngMin, latMin))
    val pixelAreaM2 = chamberlainDuquetteAreaM2(rectRing) / (width.toDouble * height)
    val centerCellArea = (res: Int) => {
      val cell = H3Geo.latLngToCell((latMin + latMax) / 2, (lngMin + lngMax) / 2, res)
      val b = H3Geo.cellToBoundary(cell)
      chamberlainDuquetteAreaM2(b.map(v => (v.lng, v.lat)) :+ (b.head.lng, b.head.lat))
    }
    if (smallerThanPixel)
      (0 to 15).find(centerCellArea(_) <= pixelAreaM2).getOrElse(15)
    else
      (0 to 15).minBy(res => math.abs(centerCellArea(res) - pixelAreaM2))
  }

  /** Chamberlain-Duquette spherical ring area in m2 over the WGS84
    * equatorial radius — the formula the reference scores resolutions
    * with (sphere.rs:13-24); closed ring as (lng, lat) degree pairs. */
  private def chamberlainDuquetteAreaM2(ring: IndexedSeq[(Double, Double)]): Double = {
    val rEq = 6378137.0
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      val (x0, y0) = ring(i)
      val (x1, y1) = ring(i + 1)
      s += math.toRadians(x1 - x0) *
        (2.0 + math.sin(math.toRadians(y0)) + math.sin(math.toRadians(y1)))
      i += 1
    }
    math.abs(s) * rEq * rEq / 2.0
  }

  /** Shape-free heuristic variant (origin-pixel area vs average hexagon
    * areas) — adequate for small mid-latitude rasters; prefer the
    * shape-aware overload above, which matches the reference bit-for-bit
    * on its own fixtures. */
  def nearestH3Resolution(transform: Transform, smallerThanPixel: Boolean = false): Int = {
    // pixel area on the sphere at the transform origin, km^2
    val r = H3Geo.EarthRadiusKm
    val (x1, y1) = transform.forward(0, 0)
    val (x2, y2) = transform.forward(1, 1)
    val midLat = math.toRadians((y1 + y2) / 2.0)
    val dLng = math.toRadians(math.abs(x2 - x1))
    val dLat = math.toRadians(math.abs(y2 - y1))
    val pixelAreaKm2 = (dLng * math.cos(midLat) * r) * (dLat * r)
    val areas = (0 to 15).map(res =>
      res -> graft.expr.H3GeoBridge.hexagonAreaAvgKm2(res).doubleValue())
    if (smallerThanPixel) {
      areas.find(_._2 <= pixelAreaKm2).map(_._1).getOrElse(15)
    } else {
      areas.minBy { case (_, a) => math.abs(a - pixelAreaKm2) }._1
    }
  }
}
