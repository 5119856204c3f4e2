package graft.expr

import graft.h3.H3Core
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static bridge between Catalyst codegen and the pure-Scala H3 core.
 *
 * Every method returns a *boxed* value, with `null` encoding the
 * invalid-input case — mirroring the reference convention that invalid H3
 * indexes become Arrow NULLs (h3ron-polars/src/from.rs:4-33). Generated
 * code calls these as `graft.expr.H3Bridge.method(...)` (Scala objects
 * expose static forwarders), keeping the expressions inside whole-stage
 * codegen.
 */
object H3Bridge {
  import H3Core._

  /** A cell array as an unsafe array: one block copy, no boxing (where
    * `GenericArrayData` boxes every element), and the projection writes it
    * out as one block. */
  private[expr] def longs(cells: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(cells)

  def isValidCell(h: Long): Boolean = H3Core.isValidCell(h)
  def isValidEdge(h: Long): Boolean = H3Core.isValidDirectedEdge(h)
  def isPentagon(h: Long): Boolean = H3Core.isPentagon(h)

  def resolution(h: Long): java.lang.Integer = {
    val r = resolutionChecked(h)
    if (r < 0) null else Integer.valueOf(r)
  }

  def baseCell(h: Long): java.lang.Integer =
    if (H3Core.isValidCell(h)) Integer.valueOf(getBaseCell(h)) else null

  def cellToParent(h: Long, res: Int): java.lang.Long = {
    val r = H3Core.cellToParent(h, res)
    if (r == H3Null) null else java.lang.Long.valueOf(r)
  }

  def cellToCenterChild(h: Long, res: Int): java.lang.Long = {
    val r = H3Core.cellToCenterChild(h, res)
    if (r == H3Null) null else java.lang.Long.valueOf(r)
  }

  def cellToChildren(h: Long, res: Int): ArrayData = {
    if (!H3Core.isValidCell(h) || res < getResolution(h) || res > MaxRes) null
    else longs(H3Core.cellToChildren(h, res))
  }

  def cellToChildrenSize(h: Long, res: Int): java.lang.Long = {
    val n = H3Core.cellToChildrenSize(h, res)
    if (n < 0) null else java.lang.Long.valueOf(n)
  }

  /** Uncompact: identity at target res, children when coarser, NULL when the
    * cell is finer than the target (callers drop those rows, mirroring
    * frame/compact.rs:268-271) or invalid. */
  def uncompactCell(h: Long, res: Int): ArrayData = {
    if (!H3Core.isValidCell(h) || res < 0 || res > MaxRes) null
    else if (getResolution(h) > res) null
    else longs(H3Core.uncompactCell(h, res))
  }

  def cellToString(h: Long): UTF8String =
    if (H3Core.isValidCell(h) || H3Core.isValidDirectedEdge(h))
      UTF8String.fromString(h3ToString(h))
    else null

  /** Reference `parse`-feature coordinate format `"x,y,res"` (lng, lat,
    * res; `,` or `;` separators, optional whitespace, 1-2 digit res —
    * cell.rs:425-437). */
  private val CoordResFormat =
    """^\s*([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*[,;]\s*([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\s*[,;]\s*(\d{1,2})""".r

  /** S19 parse, full reference precedence (h3ron/src/cell.rs:375-397 with
    * the `parse` feature): hex first; then decimal u64; then the
    * `"lng,lat,res"` coordinate form. The hex path accepts cells and
    * directed edges (the shared-kernel convention); the alternates are
    * cell-only, exactly like `H3Cell::try_from`/`from_coordinate`. */
  def stringToCell(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val str = s.toString
    val v = stringToH3(str)
    if (v != H3Null && (H3Core.isValidCell(v) || H3Core.isValidDirectedEdge(v)))
      return java.lang.Long.valueOf(v)
    try {
      val d = java.lang.Long.parseUnsignedLong(str.trim, 10)
      if (H3Core.isValidCell(d)) return java.lang.Long.valueOf(d)
    } catch { case _: NumberFormatException => }
    CoordResFormat.findFirstMatchIn(str) match {
      case Some(m) =>
        val cell = graft.h3.H3Geo.latLngToCell(
          m.group(2).toDouble, m.group(1).toDouble, m.group(3).toInt)
        if (H3Core.isValidCell(cell)) java.lang.Long.valueOf(cell) else null
      case None => null
    }
  }

  def direction(h: Long): java.lang.Integer = {
    val d = H3Core.direction(h)
    if (d < 0) null else Integer.valueOf(d)
  }

  def directionToParentResolution(h: Long, res: Int): java.lang.Integer = {
    val d = H3Core.directionToParentResolution(h, res)
    if (d < 0) null else Integer.valueOf(d)
  }

  def edgeOrigin(e: Long): java.lang.Long = {
    val r = H3Core.edgeOrigin(e)
    if (r == H3Null) null else java.lang.Long.valueOf(r)
  }

  def originToDirectedEdges(cell: Long): ArrayData = {
    if (!H3Core.isValidCell(cell)) null
    else longs(H3Core.originToDirectedEdges(cell))
  }

  def maxGridDiskSize(k: Int): java.lang.Long = {
    val n = H3Core.maxGridDiskSize(k)
    if (n < 0) null else java.lang.Long.valueOf(n)
  }

  def res0Cells(): ArrayData = longs(H3Core.res0Cells())
}
