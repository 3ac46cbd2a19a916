package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.Geom
import graft.grid.{CellIndex, TileGridSpec}

/** Hierarchical cell-id encode as a native Catalyst expression with
  * `doGenCode` — the batched geocode encode fuses into whole-stage
  * codegen (north-star requirement; replaces the reference's per-tile
  * rtree indexing with closed-form arithmetic).
  *
  * `CellIndex` is a top-level Scala object, so the generated Java calls
  * its static forwarder directly — straight-line, allocation-free.
  */
case class CellEncode(x: Expression, y: Expression,
                      level: Int, extentX: Double, extentY: Double)
    extends BinaryExpression {
  // a cell coordinate keeps 28 bits, so above MaxLevel distinct cells
  // would share an id; a negative level has no grid at all
  require(level >= 0 && level <= CellIndex.MaxLevel,
    s"cell_encode: level $level outside [0, ${CellIndex.MaxLevel}]")
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_encode"

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    CellIndex.encode(xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      level, extentX, extentY)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xv, yv) =>
      s"graft.grid.CellIndex.encode($xv, $yv, $level, ${extentX}D, ${extentY}D)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(x = l, y = r)
}

/** Morton deinterleave of a cell id back to one grid coordinate —
  * `axis` 0 → ix, 1 → iy. The decode mirror of [[CellEncode]]: pure bit
  * arithmetic whose codegen calls the `CellIndex` static forwarder
  * directly, so cell decoding stays inside whole-stage codegen (no
  * ScalaUDF node — the round trip encode→decode is fully generated). */
case class CellCoord(cell: Expression, axis: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def child: Expression = cell
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (axis == 0) "cell_ix" else "cell_iy"

  override protected def nullSafeEval(v: Any): Any = {
    val id = v.asInstanceOf[Long]
    if (axis == 0) CellIndex.ix(id) else CellIndex.iy(id)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      if (axis == 0) s"graft.grid.CellIndex.ix($c)" else s"graft.grid.CellIndex.iy($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(cell = c)
}

/** Array of tile ids of the overlapping grid covering point (x, y) —
  * the page⨝tile spatial join reduced to per-row arithmetic over the
  * broadcastable [[TileGridSpec]] (SURVEY.md T1/T5: the "spatial join →
  * equi-join" trick). Codegen calls `spec.covering` via a reference
  * object, staying inside the whole-stage-generated projection. */
case class CoveringTiles(x: Expression, y: Expression, spec: TileGridSpec)
    extends BinaryExpression {
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "covering_tiles"

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      spec.covering(xv.asInstanceOf[Double], yv.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("tileGridSpec", spec, classOf[TileGridSpec].getName)
    defineCodeGen(ctx, ev, (xv, yv) =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($specRef.covering($xv, $yv))")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(x = l, y = r)
}

/** Static kernel behind [[DotProduct]] — lives in a top-level object so
  * generated Java calls the static forwarder directly. */
object DotKernel {
  /** Bit-exact replica of the HOF formulation
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)),
    *            0.0, (acc, v) => acc + v)`:
    * left-to-right double accumulation over paired elements, each
    * widened to double before the multiply. zip_with pads the shorter
    * array with nulls and `acc + null` is null forever, so the result
    * is NULL (boxed null here) iff lengths differ or any paired
    * element is null — exactly the HOF's null semantics. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val la = a.numElements(); val lb = b.numElements()
    if (la != lb) return null
    var acc = 0.0
    var i = 0
    while (i < la) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Static kernel behind [[PagesColumn]]: the pages generator's url,
  * lang and text strings, each written once into one `byte[]` of exact
  * size — byte-identical to the column formulation `PagesGen.duckdbSql`
  * specifies (`printf` zero padding, the i%20 lang CASE,
  * `repeat(substr(md5(url), 1, 8) || ' ', 1 + i % 7) || md5(url)`).
  * Padding follows Spark's `lpad` of the decimal string, so a negative
  * `i` pads before its minus sign ("00-5"). */
object PagesKernel {
  /** The eight languages as a frequency table on `i % 20` (en-heavy,
    * web-like); a negative `i` is 'en' like the CASE's first branch. */
  private val Langs: Array[String] =
    Array.fill(10)("en") ++ Array.fill(3)("de") ++ Array.fill(2)("fr") ++
      Array("es", "zh", "ru", "pt", "ja")

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
  private val LangBytes = Langs.map(ascii)
  private val LangUtf8 = LangBytes.map(UTF8String.fromBytes)
  private val UrlHead = ascii("https://host-")
  private val UrlMid = ascii(".example/page-")
  private val TextUrl = ascii("url=")
  private val TextLang = ascii(" lang=")
  private val TextBody = ascii(" body=")
  private val Hex = ascii("0123456789abcdef")

  private def langIndex(i: Long): Int = math.max(0, (i % 20).toInt)

  def lang(i: Long): UTF8String = LangUtf8(langIndex(i))

  private val Pow10 = Array.iterate(10L, 18)(_ * 10) // 10 .. 10^18

  /** Characters of `v` in decimal, sign included. */
  private def decLen(v: Long): Int =
    if (v == Long.MinValue) 20
    else {
      val a = math.abs(v)
      var n = 1
      while (n < 19 && a >= Pow10(n - 1)) n += 1
      if (v < 0) n + 1 else n
    }

  private def put(buf: Array[Byte], pos: Int, src: Array[Byte]): Int = {
    System.arraycopy(src, 0, buf, pos, src.length)
    pos + src.length
  }

  /** `v` in decimal, left-padded with '0' to `width`; returns the end. */
  private def putPadded(buf: Array[Byte], pos: Int, v: Long, width: Int): Int = {
    val n = decLen(v)
    val end = pos + math.max(width, n)
    java.util.Arrays.fill(buf, pos, end - n, '0'.toByte)
    val digits = if (v < 0) n - 1 else n
    var q = v
    var p = end
    while (p > end - digits) { p -= 1; buf(p) = ('0' + math.abs(q % 10)).toByte; q /= 10 }
    if (v < 0) buf(p - 1) = '-'
    end
  }

  private def urlLength(i: Long): Int =
    UrlHead.length + math.max(4, decLen(i % 1000)) + UrlMid.length + math.max(8, decLen(i))

  private def putUrl(buf: Array[Byte], pos: Int, i: Long): Int = {
    val host = putPadded(buf, put(buf, pos, UrlHead), i % 1000, 4)
    putPadded(buf, put(buf, host, UrlMid), i, 8)
  }

  def url(i: Long): UTF8String = {
    val buf = new Array[Byte](urlLength(i))
    putUrl(buf, 0, i)
    UTF8String.fromBytes(buf)
  }

  /** A digest for [[text]] (no checked exception for generated Java). */
  def newMd5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** `md5` is the caller's digest, reset by each call's `digest()`. */
  def text(i: Long, md5: MessageDigest): UTF8String = {
    val urlLen = urlLength(i)
    val lang = LangBytes(langIndex(i))
    val reps = math.max(0, 1 + (i % 7).toInt)
    val buf = new Array[Byte](TextUrl.length + urlLen + TextLang.length + lang.length +
      TextBody.length + 9 * reps + 32)
    val urlEnd = putUrl(buf, put(buf, 0, TextUrl), i)
    val body = put(buf, put(buf, put(buf, urlEnd, TextLang), lang), TextBody)
    md5.update(buf, TextUrl.length, urlLen)
    val h = md5.digest()
    val hex = buf.length - 32
    var k = 0
    while (k < 16) {
      buf(hex + 2 * k) = Hex((h(k) >> 4) & 0xf)
      buf(hex + 2 * k + 1) = Hex(h(k) & 0xf)
      k += 1
    }
    var r = 0
    while (r < reps) {
      System.arraycopy(buf, hex, buf, body + 9 * r, 8)
      buf(body + 9 * r + 8) = ' '
      r += 1
    }
    UTF8String.fromBytes(buf)
  }
}

/** One string column (`url`, `lang` or `text`) of the pages generator
  * as a function of the BIGINT row index, through [[PagesKernel]]. The
  * text's MD5 digest is codegen mutable state (one per generated
  * iterator); the interpreted path keeps one per expression instance. */
case class PagesColumn(child: Expression, column: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(Set("url", "lang", "text")(column), s"unknown pages column $column")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"pages_$column"

  @transient private lazy val md5 = PagesKernel.newMd5()

  override protected def nullSafeEval(v: Any): Any = {
    val i = v.asInstanceOf[Long]
    column match {
      case "url" => PagesKernel.url(i)
      case "lang" => PagesKernel.lang(i)
      case _ => PagesKernel.text(i, md5)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = if (column != "text") "" else ", " + ctx.addMutableState(
      classOf[MessageDigest].getName, "md5",
      v => s"$v = graft.functions.PagesKernel.newMd5();")
    defineCodeGen(ctx, ev, c => s"graft.functions.PagesKernel.$column($c$args)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Double dot product of two numeric arrays (float or double
  * elements), replacing the interpreted `aggregate(zip_with(...))`
  * higher-order-function formulation on the ANN hot path: the HOFs
  * allocate an intermediate array and evaluate two lambdas per element
  * per row, where this expression is one straight-line loop — same
  * IEEE result bit for bit (see [[DotKernel.dot]]). Codegen'd via a
  * static call, so the surrounding projection stays whole-stage. */
case class DotProduct(a: Expression, b: Expression) extends BinaryExpression {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // the result can be null even for non-null inputs (length mismatch /
  // null elements), so nullable must not derive from the children —
  // codegen needs a real isNull slot
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"dot_product needs ARRAY<FLOAT|DOUBLE>, got $t")
  }
  private lazy val aFloat = elemIsFloat(a)
  private lazy val bFloat = elemIsFloat(b)

  override protected def nullSafeEval(av: Any, bv: Any): Any =
    DotKernel.dot(av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData], aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("dotRes")
    nullSafeCodeGen(ctx, ev, (av, bv) =>
      s"""java.lang.Double $boxed =
         |  graft.functions.DotKernel.dot($av, $bv, $aFloat, $bFloat);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** Even-odd ray-casting point-in-polygon over a flat coords array
  * (x0,y0,x1,y1,...). Interpreted (`CodegenFallback`) — polygon clipping
  * math stays out of generated Java, but the expression still sits
  * inside a codegen'd stage (SURVEY.md §4). */
case class STContainsPoint(poly: Expression, x: Expression, y: Expression)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = poly
  override def second: Expression = x
  override def third: Expression = y
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains_point"

  override protected def nullSafeEval(p: Any, xv: Any, yv: Any): Any =
    Geom.containsPoint(p.asInstanceOf[ArrayData].toDoubleArray(),
      xv.asInstanceOf[Double], yv.asInstanceOf[Double])

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): Expression =
    copy(poly = a, x = b, y = c)
}

/** Exact polygon-pair predicates/measures over flat coord arrays. */
case class STIntersects(a: Expression, b: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_intersects"
  override protected def nullSafeEval(av: Any, bv: Any): Any =
    Geom.intersects(av.asInstanceOf[ArrayData].toDoubleArray(),
      bv.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** Exact vector overlay ops (U2 ∪/∩/−, shapely union/intersection/
  * difference analogues, reference scripts/merge.py:63,92): two simple
  * polygons in, traced result rings out (outer CCW, holes CW, EXACT
  * vertices — original coordinates bit-identical, crossings at the
  * double-precision intersection points). CodegenFallback like the
  * rest of the geometry math — the kernel is [[graft.geom.Overlay]]. */
abstract class OverlayBinaryOp extends BinaryExpression with CodegenFallback {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  protected def op(a: Seq[Array[Double]], b: Seq[Array[Double]]): Seq[Array[Double]]
  override protected def nullSafeEval(av: Any, bv: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      op(Seq(av.asInstanceOf[ArrayData].toDoubleArray()),
         Seq(bv.asInstanceOf[ArrayData].toDoubleArray()))
        .map(r => UnsafeArrayData.fromPrimitiveArray(r): Any).toArray)
}

case class STUnion(a: Expression, b: Expression) extends OverlayBinaryOp {
  override def left: Expression = a
  override def right: Expression = b
  override def prettyName: String = "st_union"
  override protected def op(x: Seq[Array[Double]], y: Seq[Array[Double]]): Seq[Array[Double]] =
    graft.geom.Overlay.unionOf(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

case class STIntersection(a: Expression, b: Expression) extends OverlayBinaryOp {
  override def left: Expression = a
  override def right: Expression = b
  override def prettyName: String = "st_intersection"
  override protected def op(x: Seq[Array[Double]], y: Seq[Array[Double]]): Seq[Array[Double]] =
    graft.geom.Overlay.intersection(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

case class STDifference(a: Expression, b: Expression) extends OverlayBinaryOp {
  override def left: Expression = a
  override def right: Expression = b
  override def prettyName: String = "st_difference"
  override protected def op(x: Seq[Array[Double]], y: Seq[Array[Double]]): Seq[Array[Double]] =
    graft.geom.Overlay.difference(x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** shapely-faithful buffer(0): valid ring unchanged, invalid ring
  * resolved to its even-odd interior with exact coordinates
  * ([[graft.geom.Geom.makeValid]], util.py:99-104). */
case class STMakeValid(geom: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def child: Expression = geom
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_make_valid"
  override protected def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.geom.Geom.makeValid(Seq(v.asInstanceOf[ArrayData].toDoubleArray()))
        .map(r => UnsafeArrayData.fromPrimitiveArray(r): Any).toArray)
  override protected def withNewChildInternal(c: Expression): Expression = copy(geom = c)
}

/** Exact IoU for convex polygons (clip + inclusion-exclusion) — the
  * residual predicate of the IoU dedup join (instanceprocessor.py
  * 265-294 semantics over convex crowns). */
case class PolyIoU(a: Expression, b: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = a
  override def right: Expression = b
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_iou"
  override protected def nullSafeEval(av: Any, bv: Any): Any =
    Geom.iouConvex(av.asInstanceOf[ArrayData].toDoubleArray(),
      bv.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** 6-parameter affine transform of a flat coords array: x' = a·x + b·y
  * + xoff, y' = d·x + e·y + yoff (the px↔world transform,
  * docs/cache.md:70-120; exact double math for fixture parity). */
case class STAffine(geom: Expression, a: Double, b: Double, d: Double,
                    e: Double, xoff: Double, yoff: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def child: Expression = geom
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_affine"
  override protected def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Geom.affine(v.asInstanceOf[ArrayData].toDoubleArray(), a, b, d, e, xoff, yoff))
  override protected def withNewChildInternal(c: Expression): Expression = copy(geom = c)
}

/** Douglas–Peucker simplification (shapely simplify analogue,
  * util.py:106-109). */
case class STSimplify(geom: Expression, tolerance: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def child: Expression = geom
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_simplify"
  override protected def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      Geom.simplify(v.asInstanceOf[ArrayData].toDoubleArray(), tolerance))
  override protected def withNewChildInternal(c: Expression): Expression = copy(geom = c)
}

/** Polygon centroid as [cx, cy]. */
case class STCentroid(geom: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def child: Expression = geom
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_centroid"
  override protected def nullSafeEval(v: Any): Any = {
    val (cx, cy) = Geom.centroid(v.asInstanceOf[ArrayData].toDoubleArray())
    UnsafeArrayData.fromPrimitiveArray(Array(cx, cy))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(geom = c)
}

/** COCO column-major RLE of the polygon's mask over its integer-snapped
  * bbox: returns [rows, cols, count0, count1, ...] (reference RLE
  * codec, processedinstance.py:102-147). */
case class PolyRLE(geom: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def child: Expression = geom
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_rle"
  override protected def nullSafeEval(v: Any): Any = {
    val (rows, cols, counts) =
      graft.tables.FixtureIO.polyRle(v.asInstanceOf[ArrayData].toDoubleArray())
    UnsafeArrayData.fromPrimitiveArray(Array(rows, cols) ++ counts)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(geom = c)
}

/** Polygon area (shoelace) over a flat coords array. */
case class STArea(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_area"
  override protected def nullSafeEval(v: Any): Any =
    Geom.area(v.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SIGNED shoelace area (CCW +, CW −): summing it over an overlay
  * result's rings yields the polygon-with-holes area directly (outer
  * rings positive, hole rings negative — [[graft.geom.Overlay]] traces
  * holes CW), which unsigned st_area cannot express. */
case class STSignedArea(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_signed_area"
  override protected def nullSafeEval(v: Any): Any =
    Geom.signedArea(v.asInstanceOf[ArrayData].toDoubleArray())
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
