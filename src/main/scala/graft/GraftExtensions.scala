package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's Catalyst
  * expressions in the SQL function registry so they are callable from
  * `spark.sql(...)` as well as the Column API — wire with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  * (SURVEY.md §2.11: "registered via FunctionRegistry so it also works
  * from SQL".)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
}

object GraftExtensions {

  private def constOf(fn: String, pos: Int, e: Expression): Any = {
    val v = e match {
      case l: Literal => l.value
      case f if f.foldable => f.eval(null)
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a constant, got ${other.sql}")
    }
    require(v != null, s"$fn: argument ${pos + 1} must not be NULL")
    v
  }

  private def dbl(fn: String, pos: Int, e: Expression): Double =
    constOf(fn, pos, e).toString.toDouble

  private def int(fn: String, pos: Int, e: Expression): Int = {
    val d = dbl(fn, pos, e)
    require(d == d.toInt, s"$fn: argument ${pos + 1} must be an integer, got $d")
    d.toInt
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_encode" -> ((args: Seq[Expression]) =>
      CellEncode(args(0), args(1), int("cell_encode", 2, args(2)),
        dbl("cell_encode", 3, args(3)), dbl("cell_encode", 4, args(4)))),
    "st_contains_point" -> ((args: Seq[Expression]) =>
      STContainsPoint(args(0), args(1), args(2))),
    "st_intersects" -> ((args: Seq[Expression]) => STIntersects(args(0), args(1))),
    "st_area" -> ((args: Seq[Expression]) => STArea(args(0))),
    "st_signed_area" -> ((args: Seq[Expression]) => STSignedArea(args(0))),
    "st_centroid" -> ((args: Seq[Expression]) => STCentroid(args(0))),
    "st_simplify" -> ((args: Seq[Expression]) =>
      STSimplify(args(0), dbl("st_simplify", 1, args(1)))),
    "st_affine" -> ((args: Seq[Expression]) => STAffine(args(0),
      dbl("st_affine", 1, args(1)), dbl("st_affine", 2, args(2)),
      dbl("st_affine", 3, args(3)), dbl("st_affine", 4, args(4)),
      dbl("st_affine", 5, args(5)), dbl("st_affine", 6, args(6)))),
    "poly_iou" -> ((args: Seq[Expression]) => PolyIoU(args(0), args(1))),
    "poly_rle" -> ((args: Seq[Expression]) => PolyRLE(args(0))),
    "st_union" -> ((args: Seq[Expression]) => STUnion(args(0), args(1))),
    "st_intersection" -> ((args: Seq[Expression]) => STIntersection(args(0), args(1))),
    "st_difference" -> ((args: Seq[Expression]) => STDifference(args(0), args(1))),
    "st_make_valid" -> ((args: Seq[Expression]) => STMakeValid(args(0))),
    // the union AGGREGATE: the Aggregator's Column wraps an
    // AggregateExpression, which is an Expression like any other — so
    // it registers through the same builder list and is available on
    // BOTH wiring paths (spark.sql.extensions and register())
    "st_union_agg" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.graft.Bridge.convertedExpression(
        org.apache.spark.sql.functions.udaf(graft.functions.UnionAgg)
          .apply(org.apache.spark.sql.graft.Bridge.column(args(0))))))

  /** Register on an already-built session (extensions only run at
    * session construction). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, b) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, name, b)
    }
}
