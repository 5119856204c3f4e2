package graft.expr

import graft.functions._
import graft.h3.H3Core
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The cell-array expressions return unsafe long arrays from their bridges.
 * Generated code and the interpreted path must give the same rows: each
 * case runs under `NO_CODEGEN` (whole-stage codegen off, interpreted
 * projections) and under `CODEGEN_ONLY` (whole-stage codegen on), over
 * valid, pentagon, invalid and null cells.
 */
class CellArrayModesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val SfCell = 0x89283080ddbffffL
  private val Pentagon3 = H3Core.cellToCenterChild(H3Core.res0Cells()(4), 3)
  private val Square = "POLYGON ((-122.42 37.77, -122.40 37.77, -122.40 37.79, -122.42 37.79, -122.42 37.77))"

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("cell", LongType),
    StructField("other", LongType),
    StructField("k", IntegerType),
    StructField("res", IntegerType),
    StructField("wkt", StringType)))

  private val data = Seq(
    Row(0, SfCell, H3Core.cellToCenterChild(H3Core.cellToParent(SfCell, 7), 9), 1, 10, Square),
    Row(1, SfCell, SfCell, 2, 9, Square),
    Row(2, Pentagon3, H3Core.cellToCenterChild(H3Core.res0Cells()(4), 3), 1, 4, "POINT (1 2)"),
    Row(3, Pentagon3, SfCell, 0, 5, null),
    Row(4, 0L, 0L, 1, 3, "POLYGON ((0 0, 1 0))"),
    Row(5, -1L, SfCell, 1, 8, "not wkt"),
    Row(6, null, null, null, null, null),
    Row(7, H3Core.cellToParent(SfCell, 5), SfCell, 3, 7, Square))

  private def inMode(mode: String): SparkSession = shims.cloneSessionWithConf(spark,
    "spark.sql.codegen.factoryMode" -> mode,
    "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)

  /** rows of `query` over the cases, built from an RDD (not a local
    * relation, which the optimizer would evaluate in advance). */
  private def rows(mode: String)(query: DataFrame => DataFrame): Seq[String] = {
    val s = inMode(mode)
    val df = s.createDataFrame(s.sparkContext.parallelize(data, 3), schema)
    query(df).collect().map(_.toString).sorted.toSeq
  }

  private def agree(name: String)(query: DataFrame => DataFrame): Unit = {
    val interpreted = rows("NO_CODEGEN")(query)
    val generated = rows("CODEGEN_ONLY")(query)
    assert(interpreted.nonEmpty)
    assert(interpreted == generated, s"$name: interpreted vs generated")
  }

  test("projection kernels: NO_CODEGEN and CODEGEN_ONLY give the same rows") {
    val c = col("cell"); val k = col("k"); val res = col("res")
    agree("grid_disk")(_.select(col("id"), h3_grid_disk(c, k)))
    agree("grid_ring")(_.select(col("id"), h3_grid_ring(c, k)))
    agree("grid_disk_spiral")(_.select(col("id"), h3_grid_disk_spiral(c, k)))
    agree("grid_path")(_.select(col("id"), h3_grid_path(c, col("other"))))
    agree("cell_to_children")(_.select(col("id"), h3_cell_to_children(c, res)))
    agree("uncompact_cell")(_.select(col("id"), h3_uncompact_cell(c, res)))
    agree("polygon_to_cells")(_.select(col("id"), h3_polygon_to_cells(col("wkt"), res)))
    // the arrays flow on through the projection into a generator and a size
    agree("explode")(_.select(col("id"), explode(h3_grid_disk(c, k)).as("m"),
      size(h3_cell_to_children(c, res)).as("n")))
  }

  test("h3_compact_agg: NO_CODEGEN and CODEGEN_ONLY give the same rows") {
    agree("compact_agg")(_.select((col("id") % 2).as("g"),
        explode(h3_cell_to_children(col("cell"), col("res"))).as("c"))
      .groupBy(col("g")).agg(h3_compact_agg(col("c")).as("compact")))
  }
}
