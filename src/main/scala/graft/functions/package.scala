package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._

import graft.grid.TileGridSpec

/** Column-space API over the engine's Catalyst expressions, plus
  * pure-`org.apache.spark.sql.functions` compositions for everything
  * arithmetic (those stay fully codegen'd with zero custom code).
  */
package object functions {

  @inline private def toCol(e: Expression): Column = Bridge.column(e)
  @inline private def toExpr(c: Column): Expression = Bridge.expression(c)

  /** Hierarchical cell id of (x, y) at `level` over the extent. */
  def cell_encode(x: Column, y: Column, level: Int,
                  extentX: Double, extentY: Double): Column =
    toCol(CellEncode(toExpr(x), toExpr(y), level, extentX, extentY))

  /** Ids of overlapping-grid tiles covering (x, y). */
  def covering_tiles(x: Column, y: Column, spec: TileGridSpec): Column =
    toCol(CoveringTiles(toExpr(x), toExpr(y), spec))

  /** Grid x-coordinate decoded from a cell id (Morton deinterleave). */
  def cell_ix(cell: Column): Column = toCol(CellCoord(toExpr(cell), 0))

  /** Grid y-coordinate decoded from a cell id (Morton deinterleave). */
  def cell_iy(cell: Column): Column = toCol(CellCoord(toExpr(cell), 1))

  /** Built-in-md5-identical hex digest with a thread-local digest
    * instance (see [[Md5Fast]]); accepts string or binary input like
    * the built-in. */
  def md5_fast(c: Column): Column = toCol(Md5Fast(toExpr(c.cast("binary"))))

  /** Double dot product of two float/double array columns — the
    * codegen'd replacement of the `aggregate(zip_with(...))` HOF
    * formulation (bit-identical result; see [[DotKernel.dot]]). */
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Ray-casting point-in-polygon (flat coords array). */
  def st_contains_point(poly: Column, x: Column, y: Column): Column =
    toCol(STContainsPoint(toExpr(poly), toExpr(x), toExpr(y)))

  def st_intersects(a: Column, b: Column): Column =
    toCol(STIntersects(toExpr(a), toExpr(b)))

  def poly_iou(a: Column, b: Column): Column =
    toCol(PolyIoU(toExpr(a), toExpr(b)))

  /** Exact polygon union → result rings (outer CCW, holes CW). */
  def st_union(a: Column, b: Column): Column =
    toCol(STUnion(toExpr(a), toExpr(b)))

  def st_intersection(a: Column, b: Column): Column =
    toCol(STIntersection(toExpr(a), toExpr(b)))

  def st_difference(a: Column, b: Column): Column =
    toCol(STDifference(toExpr(a), toExpr(b)))

  /** buffer(0) analogue: valid ring unchanged, invalid resolved exactly. */
  def st_make_valid(poly: Column): Column = toCol(STMakeValid(toExpr(poly)))

  def st_area(poly: Column): Column = toCol(STArea(toExpr(poly)))

  def st_affine(poly: Column, a: Double, b: Double, d: Double, e: Double,
                xoff: Double, yoff: Double): Column =
    toCol(STAffine(toExpr(poly), a, b, d, e, xoff, yoff))

  def st_simplify(poly: Column, tolerance: Double): Column =
    toCol(STSimplify(toExpr(poly), tolerance))

  def st_centroid(poly: Column): Column = toCol(STCentroid(toExpr(poly)))

  /** [rows, cols, rleCounts...] of the polygon's integer-snapped mask. */
  def poly_rle(poly: Column): Column = toCol(PolyRLE(toExpr(poly)))

  /** Lat/lon presentation strings (reference util.py:462-473
    * format_lat_str / format_lon_str): "{abs:.3f}$^\circ$N|S|E|W".
    * Pure builtins — fully codegen'd. */
  def format_lat(lat: Column): Column =
    concat(format_string("%.3f", abs(lat)), lit("$^\\circ$"),
      when(lat < 0, "S").otherwise("N"))

  def format_lon(lon: Column): Column =
    concat(format_string("%.3f", abs(lon)), lit("$^\\circ$"),
      when(lon < 0, "W").otherwise("E"))

  /** bbox-overlap predicate on flat bbox columns (range-join shape). */
  def bbox_intersects(aMinX: Column, aMinY: Column, aMaxX: Column, aMaxY: Column,
                      bMinX: Column, bMinY: Column, bMaxX: Column, bMaxY: Column): Column =
    aMinX <= bMaxX && bMinX <= aMaxX && aMinY <= bMaxY && bMinY <= aMaxY
}
