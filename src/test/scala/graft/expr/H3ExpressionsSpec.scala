package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.h3.H3Core
import graft.df.H3DataFrameOps._

object SparkTestSession {
  lazy val spark: SparkSession = {
    // bucketed-table specs (PreparedSpec) write through the catalog; keep
    // the warehouse out of the repo tree. -Dgraft.test.codegen.strict=true
    // surfaces codegen compile failures as test failures instead of a
    // silent interpreted fallback.
    val s = graft.LocalSession(4, Seq(
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse",
      "spark.sql.codegen.fallback" ->
        (sys.props.getOrElse("graft.test.codegen.strict", "") != "true").toString))
    H3Registry.register(s)
    s
  }
}

class H3ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val SfCell = 0x89283080ddbffffL
  val Res5Cell = 0x8518607bfffffffL

  test("scalar expressions: validity, resolution, parent, string") {
    val df = Seq(SfCell, 0L, Res5Cell).toDF("cell")
    val rows = df.select(
      h3_is_valid_cell($"cell").as("valid"),
      h3_get_resolution($"cell").as("res"),
      h3_cell_to_parent($"cell", lit(4)).as("parent"),
      h3_cell_to_string($"cell").as("str")
    ).collect()
    assert(rows(0).getBoolean(0) && rows(0).getInt(1) == 9)
    assert(rows(0).getString(3) == "89283080ddbffff")
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(3))
    assert(!rows(1).getBoolean(0))
    assert(rows(2).getInt(1) == 5)
    assert(H3Core.getResolution(rows(2).getLong(2)) == 4)
  }

  test("h3_string_to_cell parse-feature alternates: hex, decimal u64, lng,lat,res") {
    // reference cell.rs:363-371 doc examples: hex and decimal parse to cells
    val cases = Seq(
      "89283080ddbffff",            // hex (base surface)
      SfCell.toString,              // decimal u64 (parse feature)
      "617700169518678015",         // reference's own decimal doc example
      "23.3,12.3,6",                // lng,lat,res (parse feature)
      " 23.3 ; 12.3 ; 6",           // alternate separator + whitespace
      "not-a-cell",                 // unparseable -> null
      "1,2,99")                     // res out of range -> null
    val rows = cases.toDF("s").select(h3_string_to_cell($"s")).collect()
    assert(rows(0).getLong(0) == SfCell)
    assert(rows(1).getLong(0) == SfCell)
    assert(rows(2).getLong(0) == 617700169518678015L)
    assert(rows(3).getLong(0) ==
      graft.h3.H3Geo.latLngToCell(12.3, 23.3, 6))
    assert(rows(4).getLong(0) == rows(3).getLong(0))
    assert(rows(5).isNullAt(0) && rows(6).isNullAt(0))
    // precedence: an all-decimal-digit string that is ALSO valid hex takes
    // the hex reading, like libh3's strtoull-16 first pass
    val hexWins = Seq("85283473").toDF("s")
      .select(h3_string_to_cell($"s")).head()
    assert(hexWins.isNullAt(0) || hexWins.getLong(0) == 0x85283473L,
      "hex parse runs first; validity decides")
  }

  test("null input propagates to null output") {
    val df = Seq(Some(SfCell), None).toDF("cell")
    val rows = df.select(h3_get_resolution($"cell")).collect()
    assert(rows(0).getInt(0) == 9)
    assert(rows(1).isNullAt(0))
  }

  test("sql registration works") {
    val n = spark.sql(
      s"SELECT h3_cell_to_string(h3_cell_to_parent(${SfCell}L, 8)) AS p").collect()
    assert(n(0).getString(0) == H3Core.h3ToString(H3Core.cellToParent(SfCell, 8)))
  }

  test("children explode + edges") {
    val df = Seq(Res5Cell).toDF("cell")
    val children = df.select(explode(h3_cell_to_children($"cell", lit(6))).as("child"))
    assert(children.count() == 7)
    val edges = df.select(explode(h3_origin_to_directed_edges($"cell")).as("e"))
      .select(h3_edge_origin($"e").as("o"), h3_is_valid_edge($"e").as("v"))
      .collect()
    assert(edges.length == 6)
    assert(edges.forall(r => r.getLong(0) == Res5Cell && r.getBoolean(1)))
  }

  test("compact aggregate under groupBy and shuffle") {
    val children = H3Core.cellToChildren(Res5Cell, 7)
    // two groups: one compactable, one partial
    val rows = children.map(c => ("a", c)).toSeq ++
      children.drop(1).map(c => ("b", c)).toSeq
    val df = rows.toDF("g", "cell").repartition(4) // force distribution
    val out = df.groupBy($"g").agg(h3_compact_agg($"cell").as("cells"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a") == Seq(Res5Cell))
    assert(out("b").length == 12)
  }

  test("h3CompactDataFrame / h3UncompactDataFrame roundtrip") {
    val children = H3Core.cellToChildren(Res5Cell, 7)
    val df = children.toSeq.toDF("cell").withColumn("tag", lit("x"))
    val compacted = df.h3CompactDataFrame("cell")
    assert(compacted.columns.toSeq == Seq("cell", "tag"))
    assert(compacted.select("cell").as[Long].collect().toSeq == Seq(Res5Cell))
    val un = compacted.h3UncompactDataFrame("cell", 7)
    assert(un.select("cell").as[Long].collect().sorted.toSeq == children.sorted.toSeq)
    // finer-than-target rows are dropped
    val mixed = Seq(SfCell, Res5Cell).toDF("cell")
    assert(mixed.h3UncompactDataFrame("cell", 7).count() == 49)
  }

  test("uncompact subset prunes to descendants of subset") {
    val directChildren = H3Core.cellToChildren(Res5Cell, 6)
    val df = Seq(Res5Cell).toDF("cell")
    val subset = Seq(directChildren.head)
    val out = df.h3UncompactDataFrameSubset("cell", 7, subset)
    assert(out.count() == 7)
  }

  test("filter valid + partition by resolution") {
    val df = Seq(SfCell, 0L, Res5Cell, -5L).toDF("cell")
    assert(df.h3FilterValid("cell").count() == 2)
    assert(!df.h3AllValid("cell")) // C6 all-reduce: corrupt rows present
    assert(Seq(SfCell, Res5Cell).toDF("cell").h3AllValid("cell"))
    val parts = Seq(SfCell, Res5Cell).toDF("cell").h3PartitionByResolution("cell")
    assert(parts.map(_._1) == Seq(5, 9))
    assert(parts.forall(_._2.count() == 1))
  }

  test("treemap-style set relations (H3SetOps)") {
    import graft.df.H3SetOps
    val disk2 = graft.h3.H3Traversal.gridDisk(SfCell, 2).toSeq.toDF("cell")
    val disk1 = graft.h3.H3Traversal.gridDisk(SfCell, 1).toSeq.toDF("cell")
    val far = Seq(Res5Cell).toDF("cell")
    assert(H3SetOps.isSubset(disk1, "cell", disk2, "cell"))
    assert(!H3SetOps.isSubset(disk2, "cell", disk1, "cell"))
    assert(H3SetOps.isSuperset(disk2, "cell", disk1, "cell"))
    assert(H3SetOps.isDisjoint(disk2, "cell", far, "cell"))
    assert(!H3SetOps.isDisjoint(disk2, "cell", disk1, "cell"))
    val mask = H3SetOps.containsMask(disk2, "cell", disk1, "cell")
    assert(mask.filter($"contained").count() == 7)
    assert(mask.count() == 19)
  }

  test("res0 cells + max disk size") {
    val n = spark.sql("SELECT size(h3_res0_cells()) AS n, h3_max_grid_disk_size(100) AS m").collect()(0)
    assert(n.getInt(0) == 122)
    assert(n.getLong(1) == 30301L)
  }
}
