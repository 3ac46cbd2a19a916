package graft.geom

/** Pure-Scala 2-D geometry kernel (zero Spark deps).
  *
  * Re-creates the geometry primitives the reference engine gets from
  * shapely/rasterio (see /root/reference/src/tcd_pipeline/util.py:82-125,
  * postprocess/instanceprocessor.py:265-294): point-in-polygon, convex
  * hull, convex clipping, polygon area/centroid, bbox ops, IoU,
  * Douglas-Peucker simplify. Coordinates are flat `Array[Double]`
  * (x0,y0,x1,y1,...) — ring implicitly closed (first vertex NOT
  * repeated). This flat layout round-trips through Spark encoders as a
  * primitive double array, keeping Tungsten rows compact.
  */
object Geom {

  /** Axis-aligned bounding box. */
  final case class BBox(minX: Double, minY: Double, maxX: Double, maxY: Double) {
    def width: Double  = maxX - minX
    def height: Double = maxY - minY
    def area: Double   = math.max(0, width) * math.max(0, height)
    def intersects(o: BBox): Boolean =
      minX <= o.maxX && o.minX <= maxX && minY <= o.maxY && o.minY <= maxY
    def intersection(o: BBox): BBox =
      BBox(math.max(minX, o.minX), math.max(minY, o.minY),
           math.min(maxX, o.maxX), math.min(maxY, o.maxY))
    def union(o: BBox): BBox =
      BBox(math.min(minX, o.minX), math.min(minY, o.minY),
           math.max(maxX, o.maxX), math.max(maxY, o.maxY))
    def contains(x: Double, y: Double): Boolean =
      x >= minX && x <= maxX && y >= minY && y <= maxY
    /** bbox IoU — the NMS metric (processedinstance.py:523-568 contract). */
    def iou(o: BBox): Double = {
      val ix = math.max(0.0, math.min(maxX, o.maxX) - math.max(minX, o.minX))
      val iy = math.max(0.0, math.min(maxY, o.maxY) - math.max(minY, o.minY))
      val inter = ix * iy
      val u = area + o.area - inter
      if (u <= 0) 0.0 else inter / u
    }
  }

  object BBox {
    def ofPolygon(coords: Array[Double]): BBox = {
      var mnx = Double.MaxValue; var mny = Double.MaxValue
      var mxx = Double.MinValue; var mxy = Double.MinValue
      var i = 0
      while (i < coords.length) {
        val x = coords(i); val y = coords(i + 1)
        if (x < mnx) mnx = x; if (x > mxx) mxx = x
        if (y < mny) mny = y; if (y > mxy) mxy = y
        i += 2
      }
      BBox(mnx, mny, mxx, mxy)
    }
  }

  /** Signed area via the shoelace formula (positive = CCW). */
  def signedArea(c: Array[Double]): Double = {
    val n = c.length / 2
    if (n < 3) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += c(2 * i) * c(2 * j + 1) - c(2 * j) * c(2 * i + 1)
      i += 1
    }
    s / 2.0
  }

  def area(c: Array[Double]): Double = math.abs(signedArea(c))

  /** Ring perimeter (closed polyline length). */
  def perimeter(c: Array[Double]): Double = {
    val n = c.length / 2
    if (n < 2) return 0.0
    var s = 0.0
    var i = 0
    var j = n - 1
    while (i < n) {
      val dx = c(2 * i) - c(2 * j); val dy = c(2 * i + 1) - c(2 * j + 1)
      s += math.sqrt(dx * dx + dy * dy)
      j = i
      i += 1
    }
    s
  }

  /** Polygon centroid (area-weighted); falls back to vertex mean for
    * degenerate (zero-area) rings. */
  def centroid(c: Array[Double]): (Double, Double) = {
    val n = c.length / 2
    val a = signedArea(c)
    if (n == 0) return (0.0, 0.0)
    if (math.abs(a) < 1e-12) {
      var sx = 0.0; var sy = 0.0; var i = 0
      while (i < n) { sx += c(2 * i); sy += c(2 * i + 1); i += 1 }
      return (sx / n, sy / n)
    }
    var cx = 0.0; var cy = 0.0; var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val f = c(2 * i) * c(2 * j + 1) - c(2 * j) * c(2 * i + 1)
      cx += (c(2 * i) + c(2 * j)) * f
      cy += (c(2 * i + 1) + c(2 * j + 1)) * f
      i += 1
    }
    (cx / (6.0 * a), cy / (6.0 * a))
  }

  /** Even-odd ray-casting point-in-polygon (the north-rule primitive).
    * Points exactly on an edge are implementation-defined (callers keep
    * test data off edges, mirroring the reference's float masks). */
  def containsPoint(c: Array[Double], px: Double, py: Double): Boolean = {
    val n = c.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = c(2 * i); val yi = c(2 * i + 1)
      val xj = c(2 * j); val yj = c(2 * j + 1)
      if (((yi > py) != (yj > py)) &&
          (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Strictly-convex CCW ring test (every consecutive cross product
    * > 0) — allocation-free fast path that lets hot loops skip
    * [[convexHull]] (whose index sortBy boxes a tuple per vertex) when
    * the ring is already a strictly convex CCW cycle. Collinear
    * vertices return false (the hull would drop them).
    *
    * PRECONDITION: the ring must wind exactly once (winding number 1).
    * All-left-turn rings with winding > 1 (e.g. a pentagram) also pass
    * the per-vertex test, so this is NOT a general convexity/validity
    * check — the sole intended caller is the synth fast path, whose
    * angle-sorted vertices wind once by construction. */
  def isConvexCCW(c: Array[Double]): Boolean = {
    val n = c.length / 2
    if (n < 3) return false
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val k = if (j + 1 == n) 0 else j + 1
      val cr = (c(2 * j) - c(2 * i)) * (c(2 * k + 1) - c(2 * j + 1)) -
               (c(2 * j + 1) - c(2 * i + 1)) * (c(2 * k) - c(2 * j))
      if (cr <= 0) return false
      i += 1
    }
    true
  }

  /** Andrew's monotone-chain convex hull over (x,y) pairs. Returns CCW
    * ring without repeated first point. Mirrors the reference test
    * util's `random_polygon` (convex hull of random points,
    * tests/unit/util.py:16-39). */
  def convexHull(pts: Array[Double]): Array[Double] = {
    val n = pts.length / 2
    if (n <= 2) return pts.clone()
    val idx = Array.range(0, n).sortBy(i => (pts(2 * i), pts(2 * i + 1)))
    def cross(o: Int, a: Int, b: Int): Double =
      (pts(2 * a) - pts(2 * o)) * (pts(2 * b + 1) - pts(2 * o + 1)) -
      (pts(2 * a + 1) - pts(2 * o + 1)) * (pts(2 * b) - pts(2 * o))
    val hull = new Array[Int](2 * n)
    var k = 0
    // lower
    var i = 0
    while (i < n) {
      while (k >= 2 && cross(hull(k - 2), hull(k - 1), idx(i)) <= 0) k -= 1
      hull(k) = idx(i); k += 1
      i += 1
    }
    // upper
    val lower = k + 1
    i = n - 2
    while (i >= 0) {
      while (k >= lower && cross(hull(k - 2), hull(k - 1), idx(i)) <= 0) k -= 1
      hull(k) = idx(i); k += 1
      i -= 1
    }
    val m = k - 1 // last point == first
    val out = new Array[Double](2 * m)
    i = 0
    while (i < m) { out(2 * i) = pts(2 * hull(i)); out(2 * i + 1) = pts(2 * hull(i) + 1); i += 1 }
    out
  }

  /** Sutherland–Hodgman: clip `subject` (any simple polygon) by the
    * CONVEX polygon `clip` (must be CCW). Returns clipped ring (possibly
    * empty). Exact for convex×convex intersection — the crown IoU path. */
  def clipConvex(subject: Array[Double], clip: Array[Double]): Array[Double] = {
    var out = subject
    val m = clip.length / 2
    var e = 0
    while (e < m && out.length >= 6) {
      val ax = clip(2 * e); val ay = clip(2 * e + 1)
      val bx = clip(2 * ((e + 1) % m)); val by = clip(2 * ((e + 1) % m) + 1)
      val in = out
      val n = in.length / 2
      val buf = new scala.collection.mutable.ArrayBuffer[Double](2 * n + 8)
      def side(px: Double, py: Double): Double = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val px = in(2 * i); val py = in(2 * i + 1)
        val qx = in(2 * j); val qy = in(2 * j + 1)
        val sp = side(px, py); val sq = side(qx, qy)
        if (sp >= 0) { buf += px; buf += py }
        if ((sp > 0 && sq < 0) || (sp < 0 && sq > 0)) {
          val t = sp / (sp - sq)
          buf += px + t * (qx - px); buf += py + t * (qy - py)
        }
        i += 1
      }
      out = buf.toArray
      e += 1
    }
    if (out.length < 6) Array.emptyDoubleArray else out
  }

  /** Exact IoU of two CONVEX polygons via clipping + inclusion-exclusion. */
  def iouConvex(a: Array[Double], b: Array[Double]): Double = {
    val ba = BBox.ofPolygon(a); val bb = BBox.ofPolygon(b)
    if (!ba.intersects(bb)) return 0.0
    val inter = area(clipConvex(a, ccw(b)))
    val u = area(a) + area(b) - inter
    if (u <= 0) 0.0 else inter / u
  }

  /** Ensure CCW orientation (clip polygons must be CCW). */
  def ccw(c: Array[Double]): Array[Double] =
    if (signedArea(c) >= 0) c else reverseRing(c)

  def reverseRing(c: Array[Double]): Array[Double] = {
    val n = c.length / 2
    val out = new Array[Double](c.length)
    var i = 0
    while (i < n) {
      out(2 * i) = c(2 * (n - 1 - i))
      out(2 * i + 1) = c(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  /** Whether two simple polygons intersect, TOUCH-INCLUSIVE like
    * shapely `intersects` (boundary contact counts): bbox gate, vertex
    * containment either way, then edge-pair contact including collinear
    * overlap and endpoint/T-junction touches — a strict-crossing-only
    * edge test silently drops pixel-aligned polygons whose only contact
    * is a shared collinear edge. The exact-refine step behind the
    * cell-candidate join and the ROI filter (replaces rtree + shapely
    * `intersects`, instanceprocessor.py:182-196). */
  def intersects(a: Array[Double], b: Array[Double]): Boolean = {
    if (!BBox.ofPolygon(a).intersects(BBox.ofPolygon(b))) return false
    if (containsPoint(b, a(0), a(1)) || containsPoint(a, b(0), b(1))) return true
    val n = a.length / 2; val m = b.length / 2
    var i = 0
    while (i < n) {
      val i2 = (i + 1) % n
      var j = 0
      while (j < m) {
        val j2 = (j + 1) % m
        if (segmentsTouch(a(2 * i), a(2 * i + 1), a(2 * i2), a(2 * i2 + 1),
                          b(2 * j), b(2 * j + 1), b(2 * j2), b(2 * j2 + 1))) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** Inclusive segment intersection: proper crossings PLUS collinear
    * overlaps and endpoint/T-junction touches (CLRS segment-intersect
    * with the d == 0 on-segment cases). */
  private def segmentsTouch(ax: Double, ay: Double, bx: Double, by: Double,
                            cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def o(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    def on(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
      math.min(py, qy) <= ry && ry <= math.max(py, qy)
    val d1 = o(cx, cy, dx, dy, ax, ay)
    val d2 = o(cx, cy, dx, dy, bx, by)
    val d3 = o(ax, ay, bx, by, cx, cy)
    val d4 = o(ax, ay, bx, by, dx, dy)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    (d1 == 0 && on(cx, cy, dx, dy, ax, ay)) ||
    (d2 == 0 && on(cx, cy, dx, dy, bx, by)) ||
    (d3 == 0 && on(ax, ay, bx, by, cx, cy)) ||
    (d4 == 0 && on(ax, ay, bx, by, dx, dy))
  }

  /** Whether a ring is simple: no two non-adjacent edges strictly
    * cross. O(n²) pairwise — a per-geometry local kernel, like the
    * overlay it gates. (Tangential touches and collinear overlaps are
    * not flagged; strict crossing is the invalidity class buffer(0)
    * repairs — util.py:99-104.) */
  def isSimpleRing(c: Array[Double]): Boolean = {
    val n = c.length / 2
    if (n < 3) return false
    var i = 0
    while (i < n) {
      val i2 = (i + 1) % n
      var j = i + 2
      while (j < n) {
        val j2 = (j + 1) % n
        if (j2 != i &&
          segmentsCross(c(2 * i), c(2 * i + 1), c(2 * i2), c(2 * i2 + 1),
                        c(2 * j), c(2 * j + 1), c(2 * j2), c(2 * j2 + 1))) return false
        j += 1
      }
      i += 1
    }
    true
  }

  /** Whether any edge of ring `a` strictly crosses any edge of `b`. */
  def ringsCross(a: Array[Double], b: Array[Double]): Boolean = {
    val n = a.length / 2; val m = b.length / 2
    var i = 0
    while (i < n) {
      val i2 = (i + 1) % n
      var j = 0
      while (j < m) {
        val j2 = (j + 1) % m
        if (segmentsCross(a(2 * i), a(2 * i + 1), a(2 * i2), a(2 * i2 + 1),
                          b(2 * j), b(2 * j + 1), b(2 * j2), b(2 * j2 + 1))) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** shapely-faithful buffer(0) validity fix (reference util.py:99-104:
    * `if not all_polygons.is_valid: buffer(0)`): applied ONLY when the
    * geometry is invalid — valid ring sets pass through UNCHANGED
    * (coordinates bit-identical, sub-pixel geometry preserved).
    * Invalid input (self-intersecting ring, or rings crossing each
    * other) is resolved to its even-odd interior by the exact vector
    * overlay, so output vertices are the exact self-intersection
    * points, not grid-quantized ones. */
  def makeValid(rings: Seq[Array[Double]]): Seq[Array[Double]] = {
    val rs = rings.filter(_.length >= 6)
    val valid = rs.forall(isSimpleRing) &&
      !rs.combinations(2).exists { case Seq(a, b) => ringsCross(a, b) }
    if (valid) rs else Overlay.resolve(rs)
  }

  private def segmentsCross(ax: Double, ay: Double, bx: Double, by: Double,
                            cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def o(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val d1 = o(cx, cy, dx, dy, ax, ay)
    val d2 = o(cx, cy, dx, dy, bx, by)
    val d3 = o(ax, ay, bx, by, cx, cy)
    val d4 = o(ax, ay, bx, by, dx, dy)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
    ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  /** Douglas–Peucker simplification with `tolerance` (reference uses
    * shapely simplify(1), util.py:106-109). */
  def simplify(c: Array[Double], tolerance: Double): Array[Double] = {
    val n = c.length / 2
    if (n <= 4) return c.clone()
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    def perpDist(i: Int, a: Int, b: Int): Double = {
      val ax = c(2 * a); val ay = c(2 * a + 1)
      val bx = c(2 * b); val by = c(2 * b + 1)
      val px = c(2 * i); val py = c(2 * i + 1)
      val dx = bx - ax; val dy = by - ay
      val len = math.sqrt(dx * dx + dy * dy)
      if (len < 1e-12) math.sqrt((px - ax) * (px - ax) + (py - ay) * (py - ay))
      else math.abs(dx * (ay - py) - (ax - px) * dy) / len
    }
    def rec(a: Int, b: Int): Unit = {
      if (b <= a + 1) return
      var maxD = -1.0; var maxI = -1
      var i = a + 1
      while (i < b) {
        val d = perpDist(i, a, b)
        if (d > maxD) { maxD = d; maxI = i }
        i += 1
      }
      if (maxD > tolerance) { keep(maxI) = true; rec(a, maxI); rec(maxI, b) }
    }
    rec(0, n - 1)
    val out = new scala.collection.mutable.ArrayBuffer[Double](2 * n)
    var i = 0
    while (i < n) { if (keep(i)) { out += c(2 * i); out += c(2 * i + 1) }; i += 1 }
    out.toArray
  }

  /** Translate a flat ring by (dx, dy) — the local→global tile shift
    * (instanceprocessor.py:90-97). */
  def translate(c: Array[Double], dx: Double, dy: Double): Array[Double] = {
    val out = new Array[Double](c.length)
    var i = 0
    while (i < c.length) { out(i) = c(i) + dx; out(i + 1) = c(i + 1) + dy; i += 2 }
    out
  }

  /** 6-param affine [a,b,d,e,xoff,yoff]: x' = a*x + b*y + xoff;
    * y' = d*x + e*y + yoff (pixel↔world, docs/cache.md:70-120). */
  def affine(c: Array[Double], a: Double, b: Double, d: Double, e: Double,
             xoff: Double, yoff: Double): Array[Double] = {
    val out = new Array[Double](c.length)
    var i = 0
    while (i < c.length) {
      val x = c(i); val y = c(i + 1)
      out(i) = a * x + b * y + xoff
      out(i + 1) = d * x + e * y + yoff
      i += 2
    }
    out
  }

  /** Union-find — the connected-components core behind the dissolve /
    * iterative-IoU-merge fixpoint (instanceprocessor.py:240-294). */
  final class UnionFind(n: Int) {
    private val parent = Array.range(0, n)
    private val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
  }
}
