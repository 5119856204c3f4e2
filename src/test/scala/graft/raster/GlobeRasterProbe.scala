package graft.raster

import org.apache.spark.sql.functions._

/** Whole-globe raster conversion probe at PRODUCTION resolution:
  * land_shallow_topo_1024.tif (the reference's own whole-globe RGB
  * fixture) converted at res 6 (~14.1M cells, two orders more fan-out
  * than the res-4 unit test) and then value-grouped + compacted — the
  * convert_dataset shape (convert_dataset_r.rs:9-33) at global scale.
  * The unit suite pins res 4 (288,122 cells); this probe measures the
  * slab-split polyfill + compact-agg path where the fan-out, not the
  * pixel decode, dominates. Run: `Test/runMain graft.raster.GlobeRasterProbe`.
  *
  * Scale axes separated per run: (1) cell emission (rasterToCells +
  * count), (2) the compact aggregation on the value-grouped cells.
  */
object GlobeRasterProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()
    val path = "/root/reference/data/land_shallow_topo_1024.tif"
    require(new java.io.File(path).isFile, s"$path not present")

    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[globeProbe] $what: ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    val tiles = GeoTiff.readGeoTiff(spark, path, band = 1).localCheckpoint(false)

    // warm codegen on the small res the unit test pins
    timed("warm res-4 conversion (288,122 cells)") {
      H3Raster.rasterToCells(tiles, 4).count()
    }

    for (res <- Seq(5, 6)) {
      val cells = H3Raster.rasterToCells(tiles, res).localCheckpoint(false)
      val n = timed(s"res-$res rasterToCells + materialize") { cells.count() }
      println(s"[globeProbe] res-$res cells: $n")
      // whole-globe coverage law: the fixture spans the full grid, so the
      // emitted cell count must equal the number of res-N cells that exist
      val expected = res match { case 5 => 2016842L; case 6 => 14117882L }
      require(n == expected, s"res-$res produced $n cells, grid has $expected")
      val compacted = timed(s"res-$res value-group + compact") {
        import graft.functions._
        cells.groupBy(col("value"))
          .agg(h3_compact_agg(col("cell")).as("compacted"))
          .select(explode(col("compacted")))
          .count()
      }
      println(s"[globeProbe] res-$res compacted cells: $compacted")
      cells.unpersist()
    }
    spark.stop()
  }
}
