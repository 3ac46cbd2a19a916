package graft.geom

import scala.collection.mutable

/** Exact vector boolean operations on polygons (U2: geometric ∩/∪/−)
  * — the engine's counterpart of shapely's `unary_union`/`intersection`
  * /`difference` (reference scripts/merge.py:92, util.py:99-104),
  * re-created from the standard planar-overlay construction:
  *
  *   1. fragment every input edge at its intersections with every
  *      other edge (proper crossings, T-junctions, collinear overlaps);
  *   2. classify each undirected fragment by sampling the combined
  *      even-odd coverage of the input ring groups just left and just
  *      right of its midpoint — a fragment is on the result boundary
  *      iff `keep` of the covering groups differs across it;
  *   3. orient boundary fragments interior-on-the-LEFT and re-trace
  *      closed rings (sharpest-left-turn walk at multi-degree
  *      vertices), so outer rings come out CCW and holes CW.
  *
  * Output vertices are EXACT: original input vertices pass through
  * bit-identical, and crossing vertices are the double-precision
  * line-line intersection points (no grid quantization — the vector
  * complement of Raster.makeValid's mask-space resolution).
  *
  * Semantics are even-odd throughout, matching the engine's rasterizer
  * (Raster.rasterizeRings) and ray-cast (Geom.containsPoint): a ring
  * group (`Seq[Array[Double]]`) is a polygon-with-holes under even-odd
  * parity of its rings, and a self-intersecting ring denotes its
  * even-odd interior.
  *
  * Scale notes: the overlay is near-linear for spread-out geometry —
  * intersection finding runs on a uniform bbox grid (O(E + K) for K
  * candidate pairs; degenerates to the exact O(E²) all-pairs scan only
  * when everything shares a cell); vertex welding and the edge grid key
  * their cells by one packed `Long` in an open-addressing table; and
  * boundary classification is filter-then-refine ([[Coverage]]): a
  * grid over the group bboxes, widened by the weld tolerance, yields
  * the few groups that can contain a sample point, and only those run
  * their y-bucketed crossing index. A sample therefore costs O(groups
  * near it), not O(groups) — the shape `st_union_agg` compaction
  * produces (one large traced head group plus tens of single-box
  * groups). Every acceleration is bit-identical to the naive loops
  * (same pair arithmetic in the same order; same crossing test, which
  * is XOR-commutative; a group is skipped only where its parity is
  * provably even — see [[Coverage]]). It remains a per-group LOCAL
  * kernel (run inside flatMapGroups or an aggregate's merge on bounded
  * groups, like every geometry kernel here), not a distributed
  * operator. Classification resolution is ~1e-8 of the coordinate
  * magnitude; geometry thinner than that is beyond a double overlay.
  */
object Overlay {

  /** n-ary union of independent polygons (each ring = one even-odd
    * polygon): shapely `unary_union` analogue. Returns traced rings,
    * outer CCW / holes CW; total area = Σ signedArea. */
  def union(polys: Seq[Array[Double]]): Seq[Array[Double]] =
    unionGroups(polys.map(Seq(_)).toIndexedSeq)

  /** n-ary union of polygon-with-holes groups (any-coverage keep) —
    * shared by [[union]] and the `st_union_agg` Aggregator. */
  def unionGroups(groups: IndexedSeq[Seq[Array[Double]]]): Seq[Array[Double]] =
    overlay(groups, _.any)

  /** Union of two polygons-with-holes. */
  def unionOf(a: Seq[Array[Double]], b: Seq[Array[Double]]): Seq[Array[Double]] =
    overlay(IndexedSeq(a, b), _.any)

  /** Intersection of two polygons-with-holes. */
  def intersection(a: Seq[Array[Double]], b: Seq[Array[Double]]): Seq[Array[Double]] =
    overlay(IndexedSeq(a, b), cov => cov(0) && cov(1))

  /** Difference a − b of two polygons-with-holes. */
  def difference(a: Seq[Array[Double]], b: Seq[Array[Double]]): Seq[Array[Double]] =
    overlay(IndexedSeq(a, b), cov => cov(0) && !cov(1))

  /** Even-odd resolution of one ring set (buffer(0) analogue for a
    * self-intersecting / pinched ring): re-traces the parity interior
    * with exact coordinates. */
  def resolve(rings: Seq[Array[Double]]): Seq[Array[Double]] =
    overlay(IndexedSeq(rings), cov => cov(0))

  /** Signed area of a traced result (outer CCW +, holes CW −). */
  def areaOf(rings: Seq[Array[Double]]): Double =
    rings.iterator.map(Geom.signedArea).sum

  /** Even-odd parity of `pt` across a ring group (polygon-with-holes
    * membership: inside an odd number of rings). */
  def parityInside(group: Seq[Array[Double]], px: Double, py: Double): Boolean = {
    var odd = false
    group.foreach(r => if (r.length >= 6 && Geom.containsPoint(r, px, py)) odd = !odd)
    odd
  }

  // -------------------------------------------------------------------

  /** y-bucketed crossing index over one even-odd ring group:
    * `parity(px, py)` reproduces [[parityInside]] bit-exactly. Group
    * parity = XOR over rings of [[Geom.containsPoint]] = XOR over ALL
    * the group's edges of the ray-crossing test, which is order-free,
    * so only the edges that can straddle the query's y (from a bucket
    * over the edge y-intervals) need evaluating — with the EXACT
    * current-vertex/previous-vertex operand roles of containsPoint so
    * the float arithmetic matches. Horizontal edges (yi == yj) never
    * pass the straddle test and are not indexed; rings under 3
    * vertices are skipped like parityInside does. */
  private final class GroupIndex(group: Seq[Array[Double]]) {
    // primitive arrays, not ArrayBuffer[Double] — parity() reads every
    // bucketed edge twice per fragment, and boxed access there costs an
    // unbox per coordinate on exactly the loop this index accelerates
    private val (xiA, yiA, xjA, yjA) = {
      val xiB = new mutable.ArrayBuilder.ofDouble
      val yiB = new mutable.ArrayBuilder.ofDouble
      val xjB = new mutable.ArrayBuilder.ofDouble
      val yjB = new mutable.ArrayBuilder.ofDouble
      group.foreach { r =>
        if (r.length >= 6) {
          val n = r.length / 2
          var i = 0
          var j = n - 1
          while (i < n) {
            val yi = r(2 * i + 1); val yj = r(2 * j + 1)
            if (yi != yj) {
              xiB.addOne(r(2 * i)); yiB.addOne(yi)
              xjB.addOne(r(2 * j)); yjB.addOne(yj)
            }
            j = i
            i += 1
          }
        }
      }
      (xiB.result(), yiB.result(), xjB.result(), yjB.result())
    }
    private val m = xiA.length
    private val (yMin, yMax) = {
      var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
      var e = 0
      while (e < m) {
        lo = math.min(lo, math.min(yiA(e), yjA(e)))
        hi = math.max(hi, math.max(yiA(e), yjA(e)))
        e += 1
      }
      (lo, hi)
    }
    private val nb = math.max(1, math.min(m, 256))
    private val bh = if (yMax > yMin) (yMax - yMin) / nb else 1.0
    private def bucketOf(y: Double): Int =
      math.min(nb - 1, math.max(0, ((y - yMin) / bh).toInt))
    private val buckets: Array[Array[Int]] = {
      val bs = Array.fill(nb)(mutable.ArrayBuffer.empty[Int])
      var e = 0
      while (e < m) {
        var b = bucketOf(math.min(yiA(e), yjA(e)))
        val b1 = bucketOf(math.max(yiA(e), yjA(e)))
        while (b <= b1) { bs(b) += e; b += 1 }
        e += 1
      }
      bs.map(_.toArray)
    }

    def parity(px: Double, py: Double): Boolean = {
      if (m == 0 || py < yMin || py > yMax) return false
      var odd = false
      val ids = buckets(bucketOf(py))
      var k = 0
      while (k < ids.length) {
        val e = ids(k)
        val xi = xiA(e); val yi = yiA(e)
        val xj = xjA(e); val yj = yjA(e)
        if (((yi > py) != (yj > py)) &&
            (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) odd = !odd
        k += 1
      }
      odd
    }
  }

  /** Largest coordinate magnitude over the vertices of every ring with
    * at least 3 vertices (at least 1.0): the overlay's tolerances are
    * fractions of it. */
  private def scaleOf(groups: IndexedSeq[Seq[Array[Double]]]): Double = {
    var scale = 1.0
    groups.foreach(_.foreach { r =>
      val n = r.length / 2
      if (n >= 3) {
        var i = 0
        while (i < 2 * n) { scale = math.max(scale, math.abs(r(i))); i += 1 }
      }
    })
    scale
  }

  /** Weld tolerance of an overlay of `groups`. */
  private[graft] def weldEpsOf(groups: IndexedSeq[Seq[Array[Double]]]): Double =
    1e-9 * scaleOf(groups)

  /** Edges (or groups) registered in more than this many grid cells go
    * on a list checked for every query instead. */
  private val MaxCells = 64L

  /** Grid cell (cx, cy) as one key; exact for |cx|, |cy| < 2³¹, which
    * every grid here satisfies (cells are ≥ 1e-9 of the coordinate
    * magnitude). */
  private def pack(cx: Long, cy: Long): Long = (cx << 32) | (cy & 0xFFFFFFFFL)

  /** Stable counting sort of `keys` (each in [0, n)): for key k,
    * `order(start(k) until start(k + 1))` are the indices of its
    * entries, ascending. */
  private def byKey(keys: Array[Int], n: Int): (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < keys.length) { start(keys(i) + 1) += 1; i += 1 }
    var k = 0
    while (k < n) { start(k + 1) += start(k); k += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val order = new Array[Int](keys.length)
    i = 0
    while (i < keys.length) { order(fill(keys(i))) = i; fill(keys(i)) += 1; i += 1 }
    (start, order)
  }

  private def filled(n: Int, v: Int): Array[Int] = {
    val a = new Array[Int](n)
    java.util.Arrays.fill(a, v)
    a
  }

  /** Open-addressing map from a packed cell key to a dense cell number
    * (0, 1, 2, … in first-insertion order), with unboxed keys. */
  private final class CellTable(expected: Int) {
    private var shift = 64 - 4
    while ((1 << (64 - shift)) < 2 * expected) shift -= 1
    private var keys = new Array[Long](1 << (64 - shift))
    private var nums = filled(keys.length, -1)
    var size = 0

    private def slot(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

    /** The key's cell number, or -1. */
    def find(k: Long): Int = {
      val mask = keys.length - 1
      var s = slot(k)
      while (nums(s) >= 0 && keys(s) != k) s = (s + 1) & mask
      nums(s)
    }

    /** The key's cell number, numbering it `size` if it is new. */
    def id(k: Long): Int = {
      val mask = keys.length - 1
      var s = slot(k)
      while (nums(s) >= 0 && keys(s) != k) s = (s + 1) & mask
      if (nums(s) >= 0) nums(s)
      else {
        keys(s) = k; nums(s) = size; size += 1
        if (2 * size > keys.length) grow()
        size - 1
      }
    }

    private def grow(): Unit = {
      val (ok, on) = (keys, nums)
      shift -= 1
      keys = new Array[Long](ok.length * 2)
      nums = filled(keys.length, -1)
      val mask = keys.length - 1
      var i = 0
      while (i < ok.length) {
        if (on(i) >= 0) {
          var s = slot(ok(i))
          while (nums(s) >= 0) s = (s + 1) & mask
          keys(s) = ok(i); nums(s) = on(i)
        }
        i += 1
      }
    }
  }

  /** The even-odd coverage of the input groups at one sample point,
    * evaluated on demand — the argument of an overlay's `keep` rule.
    * `cov(g)` is group g's parity there (the same answer as
    * [[parityInside]]) and `cov.any` is whether some group covers it;
    * only what `keep` asks for is computed, so a sample costs
    * O(groups near it), not O(groups).
    *
    * Filter then refine: each group's bbox is widened by `eps` and
    * registered in a uniform grid over all of them (a group spanning
    * more than `MaxCells` cells goes on a `wide` list checked for every
    * point); only groups whose widened bbox contains the point run
    * their [[GroupIndex]] parity. The filter is exact for any `eps`
    * above a few ulps of the coordinate magnitude (the kernel uses its
    * weld tolerance, 1e-9 of it): outside a group's bbox in y, no edge
    * passes the straddle test; right of it, the computed x-intercept of
    * a straddling edge stays within a few ulps of the edge's x-range,
    * so no crossing counts; left of it, every straddling edge counts,
    * and a closed ring has an even number of straddling edges. Either
    * way each ring's parity is even, so a skipped group is exactly a
    * group [[parityInside]] reports `false` for. */
  final class Coverage private[graft] (groups: IndexedSeq[Seq[Array[Double]]], eps: Double) {
    private val nG = groups.length
    private val gIdx = groups.iterator.map(new GroupIndex(_)).toArray
    private val bx0, by0, bx1, by1 = new Array[Double](nG)
    // domain = union of the widened bboxes; `live` groups have a ring
    private var dx0, dy0 = Double.PositiveInfinity
    private var dx1, dy1 = Double.NegativeInfinity
    private var live = 0
    private var sumExt = 0.0
    locally {
      var g = 0
      while (g < nG) {
        bx0(g) = Double.PositiveInfinity; by0(g) = Double.PositiveInfinity
        bx1(g) = Double.NegativeInfinity; by1(g) = Double.NegativeInfinity
        groups(g).foreach { r =>
          if (r.length >= 6) {
            var i = 0
            while (i + 1 < r.length) {
              bx0(g) = math.min(bx0(g), r(i)); bx1(g) = math.max(bx1(g), r(i))
              by0(g) = math.min(by0(g), r(i + 1)); by1(g) = math.max(by1(g), r(i + 1))
              i += 2
            }
          }
        }
        if (bx0(g) <= bx1(g)) {
          bx0(g) -= eps; by0(g) -= eps; bx1(g) += eps; by1(g) += eps
          dx0 = math.min(dx0, bx0(g)); dy0 = math.min(dy0, by0(g))
          dx1 = math.max(dx1, bx1(g)); dy1 = math.max(dy1, by1(g))
          sumExt += math.max(bx1(g) - bx0(g), by1(g) - by0(g))
          live += 1
        }
        g += 1
      }
    }
    // cell ~ the mean group extent, coarsened so the grid has O(live)
    // cells even for a sparse or strip-shaped domain
    private val cs = if (live == 0) 1.0 else {
      val w = dx1 - dx0; val h = dy1 - dy0
      math.max(math.max(sumExt / live, math.sqrt(w * h / (4.0 * live))),
        math.max(math.max(w, h) / (4.0 * live), Double.MinPositiveValue))
    }
    private def cellX(x: Double): Int = ((x - dx0) / cs).toInt
    private def cellY(y: Double): Int = ((y - dy0) / cs).toInt
    private val nx = if (live == 0) 0 else cellX(dx1) + 1
    private val ny = if (live == 0) 0 else cellY(dy1) + 1
    // cell c lists groups cellIds(cellStart(c) until cellStart(c + 1))
    private val (wide, cellStart, cellIds) = {
      val wideB = new mutable.ArrayBuilder.ofInt
      val regCell = new mutable.ArrayBuilder.ofInt
      val regGroup = new mutable.ArrayBuilder.ofInt
      var g = 0
      while (g < nG) {
        if (bx0(g) <= bx1(g)) {
          val (cx0, cx1) = (cellX(bx0(g)), cellX(bx1(g)))
          val (cy0, cy1) = (cellY(by0(g)), cellY(by1(g)))
          if ((cx1 - cx0 + 1L) * (cy1 - cy0 + 1L) > MaxCells) wideB.addOne(g)
          else
            for (cy <- cy0 to cy1; cx <- cx0 to cx1) { regCell.addOne(cy * nx + cx); regGroup.addOne(g) }
        }
        g += 1
      }
      val groupOf = regGroup.result()
      val (start, order) = byKey(regCell.result(), nx * ny)
      (wideB.result(), start, order.map(groupOf(_)))
    }

    private var px, py = 0.0

    /** Moves the sample point to (x, y). */
    private[graft] def at(x: Double, y: Double): Coverage = { px = x; py = y; this }

    /** Whether group `g` covers the sample point. */
    def apply(g: Int): Boolean =
      px >= bx0(g) && px <= bx1(g) && py >= by0(g) && py <= by1(g) && gIdx(g).parity(px, py)

    /** Whether any group covers the sample point: the point's grid
      * cell first, then the wide groups, stopping at the first hit. */
    def any: Boolean = {
      var hit = false
      if (px >= dx0 && py >= dy0) {
        val cx = cellX(px); val cy = cellY(py)
        if (cx < nx && cy < ny) {
          val c = cy * nx + cx
          var k = cellStart(c)
          while (!hit && k < cellStart(c + 1)) { hit = apply(cellIds(k)); k += 1 }
        }
      }
      var k = 0
      while (!hit && k < wide.length) { hit = apply(wide(k)); k += 1 }
      hit
    }
  }

  /** The overlay core. `groups(i)` is one even-odd ring group;
    * `keep(cov)` decides membership of a point from its [[Coverage]]
    * `cov` (which groups cover it). Returns the traced boundary rings
    * of the kept region (interior-on-left orientation). */
  def overlay(groups: IndexedSeq[Seq[Array[Double]]],
              keep: Coverage => Boolean): Seq[Array[Double]] = {
    // ---- 1. collect edges
    val axB = new mutable.ArrayBuilder.ofDouble
    val ayB = new mutable.ArrayBuilder.ofDouble
    val bxB = new mutable.ArrayBuilder.ofDouble
    val byB = new mutable.ArrayBuilder.ofDouble
    groups.foreach(_.foreach { r =>
      val n = r.length / 2
      if (n >= 3) {
        var i = 0
        while (i < n) {
          val j = if (i + 1 == n) 0 else i + 1
          val x1 = r(2 * i); val y1 = r(2 * i + 1)
          val x2 = r(2 * j); val y2 = r(2 * j + 1)
          if (x1 != x2 || y1 != y2) { axB.addOne(x1); ayB.addOne(y1); bxB.addOne(x2); byB.addOne(y2) }
          i += 1
        }
      }
    })
    val ax = axB.result(); val ay = ayB.result()
    val bx = bxB.result(); val by = byB.result()
    val nE = ax.length
    if (nE == 0) return Seq.empty
    val scale = scaleOf(groups)
    val weldEps = 1e-9 * scale

    // ---- 2. pairwise intersections → split params per edge.
    // Candidate pruning: a pair can only contribute a split when their
    // weldEps-expanded bboxes overlap — every split point the branches
    // below emit lies within weldEps of BOTH segments (non-parallel:
    // t,u inside [-tol, 1+tol] puts the shared point that close to
    // each span; collinear: each emitted point is an endpoint of one
    // edge projected inside the other's span). A uniform grid over the
    // expanded bboxes therefore enumerates a superset of contributing
    // pairs, and the surviving (i, j) pairs run the EXACT original
    // pair arithmetic in the exact original ascending order, so the
    // split sets — and every downstream weld id and traced ring — are
    // bit-identical to the all-pairs loop. All-in-one-cell degenerates
    // back to the O(E²) scan, never worse.
    val margin = 2 * weldEps
    val eMinX = new Array[Double](nE); val eMaxX = new Array[Double](nE)
    val eMinY = new Array[Double](nE); val eMaxY = new Array[Double](nE)
    var sumW = 0.0; var sumH = 0.0
    var k0 = 0
    while (k0 < nE) {
      eMinX(k0) = math.min(ax(k0), bx(k0)) - margin
      eMaxX(k0) = math.max(ax(k0), bx(k0)) + margin
      eMinY(k0) = math.min(ay(k0), by(k0)) - margin
      eMaxY(k0) = math.max(ay(k0), by(k0)) + margin
      sumW += eMaxX(k0) - eMinX(k0); sumH += eMaxY(k0) - eMinY(k0)
      k0 += 1
    }
    // cell ~ the mean expanded-bbox extent: an average edge covers
    // O(1) cells, and a cell's occupancy tracks local edge density
    val cellSz = math.max(math.max(sumW, sumH) / nE, 16 * weldEps)
    def cellOf(v: Double): Long = math.floor(v / cellSz).toLong
    // memory guard: one edge spanning the domain among many short ones
    // would otherwise register in O((w/cell)·(h/cell)) cells — up to
    // O(E²) entries for O(E) input. Edges covering more than MaxCells
    // cells skip the grid entirely and go on an `outliers` list that
    // is bbox-checked against EVERY i (they are few by construction,
    // so this stays O(E·|outliers|) time and O(E) space); candidate
    // SETS are unchanged, only where a pair is discovered.
    val outliersB = new mutable.ArrayBuilder.ofInt
    val isOutlier = new Array[Boolean](nE)
    // (cell number, edge) registrations, then grouped by cell number
    val cells = new CellTable(2 * nE)
    val regCell = new mutable.ArrayBuilder.ofInt
    val regEdge = new mutable.ArrayBuilder.ofInt
    k0 = 0
    while (k0 < nE) {
      val cx0 = cellOf(eMinX(k0)); val cxMax = cellOf(eMaxX(k0))
      val cy0 = cellOf(eMinY(k0)); val cyMax = cellOf(eMaxY(k0))
      if ((cxMax - cx0 + 1) * (cyMax - cy0 + 1) > MaxCells) {
        outliersB.addOne(k0)
        isOutlier(k0) = true
      } else {
        var cx = cx0
        while (cx <= cxMax) {
          var cy = cy0
          while (cy <= cyMax) {
            regCell.addOne(cells.id(pack(cx, cy))); regEdge.addOne(k0)
            cy += 1
          }
          cx += 1
        }
      }
      k0 += 1
    }
    val outliers = outliersB.result()
    val (cellStart, cellEdges) = {
      val edgeOf = regEdge.result()
      val (start, order) = byKey(regCell.result(), cells.size)
      (start, order.map(edgeOf(_)))
    }
    val stamp = filled(nE, -1) // per-i dedupe of multi-cell candidates
    val cand = new mutable.ArrayBuilder.ofInt
    // split points in discovery order: edge, param along it, point
    val spE = new mutable.ArrayBuilder.ofInt
    val spT = new mutable.ArrayBuilder.ofDouble
    val spX = new mutable.ArrayBuilder.ofDouble
    val spY = new mutable.ArrayBuilder.ofDouble
    def split(e: Int, t: Double, px: Double, py: Double): Unit = {
      spE.addOne(e); spT.addOne(t); spX.addOne(px); spY.addOne(py)
    }
    var i = 0
    while (i < nE) {
      val rX = bx(i) - ax(i); val rY = by(i) - ay(i)
      cand.clear()
      def consider(j: Int): Unit =
        if (j > i && stamp(j) != i) {
          stamp(j) = i
          if (eMinX(i) <= eMaxX(j) && eMinX(j) <= eMaxX(i) &&
              eMinY(i) <= eMaxY(j) && eMinY(j) <= eMaxY(i)) cand.addOne(j)
        }
      if (isOutlier(i)) {
        // an outlier's own cell range is the thing we refused to walk —
        // scan everything once instead (outliers are few)
        var j = i + 1
        while (j < nE) { consider(j); j += 1 }
      } else {
        var cx = cellOf(eMinX(i))
        val cxMax = cellOf(eMaxX(i))
        while (cx <= cxMax) {
          var cy = cellOf(eMinY(i))
          val cyMax = cellOf(eMaxY(i))
          while (cy <= cyMax) {
            val c = cells.find(pack(cx, cy))
            var k = cellStart(c)
            while (k < cellStart(c + 1)) { consider(cellEdges(k)); k += 1 }
            cy += 1
          }
          cx += 1
        }
        // gridless outliers are candidates of every edge
        var oi = 0
        while (oi < outliers.length) { consider(outliers(oi)); oi += 1 }
      }
      val candArr = cand.result()
      java.util.Arrays.sort(candArr) // original ascending-j visit order
      var ci = 0
      while (ci < candArr.length) {
        val j = candArr(ci)
        val sX = bx(j) - ax(j); val sY = by(j) - ay(j)
        val qpX = ax(j) - ax(i); val qpY = ay(j) - ay(i)
        val d = rX * sY - rY * sX
        val lenR = math.sqrt(rX * rX + rY * rY)
        val lenS = math.sqrt(sX * sX + sY * sY)
        if (math.abs(d) > 1e-12 * lenR * lenS) {
          val t = (qpX * sY - qpY * sX) / d
          val u = (qpX * rY - qpY * rX) / d
          val tolT = weldEps / lenR; val tolU = weldEps / lenS
          if (t > -tolT && t < 1 + tolT && u > -tolU && u < 1 + tolU) {
            // ONE shared point for both edges, snapped to endpoints so
            // T-junction vertices weld bit-exactly with originals
            var px = ax(i) + t * rX; var py = ay(i) + t * rY
            if (t < tolT) { px = ax(i); py = ay(i) }
            else if (t > 1 - tolT) { px = bx(i); py = by(i) }
            if (u < tolU) { px = ax(j); py = ay(j) }
            else if (u > 1 - tolU) { px = bx(j); py = by(j) }
            if (t > tolT && t < 1 - tolT) split(i, t, px, py)
            if (u > tolU && u < 1 - tolU) split(j, u, px, py)
          }
        } else if (math.abs(qpX * rY - qpY * rX) <= weldEps * lenR) {
          // collinear: split each at the other's interior endpoints
          val rr = rX * rX + rY * rY
          val ss = sX * sX + sY * sY
          def onI(px: Double, py: Double): Unit = {
            val t = ((px - ax(i)) * rX + (py - ay(i)) * rY) / rr
            if (t > weldEps / lenR && t < 1 - weldEps / lenR) split(i, t, px, py)
          }
          def onJ(px: Double, py: Double): Unit = {
            val u = ((px - ax(j)) * sX + (py - ay(j)) * sY) / ss
            if (u > weldEps / lenS && u < 1 - weldEps / lenS) split(j, u, px, py)
          }
          onI(ax(j), ay(j)); onI(bx(j), by(j))
          onJ(ax(i), ay(i)); onJ(bx(i), by(i))
        }
        ci += 1
      }
      i += 1
    }
    // each edge's splits, in discovery order, then stably sorted by t
    val splitT = spT.result(); val splitX = spX.result(); val splitY = spY.result()
    val (splitStart, splitOrder) = byKey(spE.result(), nE)
    i = 0
    while (i < nE) { sortByT(splitOrder, splitStart(i), splitStart(i + 1), splitT); i += 1 }

    // ---- 3. weld vertices (spatial hash, neighbor cells) → ids. Every
    // weld call adds at most one vertex, so the call count (two
    // endpoints plus the splits of each edge) bounds the vertex count.
    val maxV = 2 * nE + splitT.length
    val vx = new Array[Double](maxV)
    val vy = new Array[Double](maxV)
    var nV = 0
    // per weld cell, its vertices in insertion order: a head/tail per
    // cell number, a successor per vertex
    val wCells = new CellTable(maxV)
    val wHead = new Array[Int](maxV); val wTail = new Array[Int](maxV)
    val vNext = new Array[Int](maxV)
    def weld(px: Double, py: Double): Int = {
      val cx = math.floor(px / (4 * weldEps)).toLong
      val cy = math.floor(py / (4 * weldEps)).toLong
      var found = -1
      var dx = -1L
      while (found < 0 && dx <= 1) {
        var dy = -1L
        while (found < 0 && dy <= 1) {
          val c = wCells.find(pack(cx + dx, cy + dy))
          var id = if (c < 0) -1 else wHead(c)
          while (found < 0 && id >= 0) {
            if (math.abs(vx(id) - px) <= weldEps && math.abs(vy(id) - py) <= weldEps) found = id
            id = vNext(id)
          }
          dy += 1
        }
        dx += 1
      }
      if (found >= 0) found
      else {
        val id = nV
        nV += 1
        vx(id) = px; vy(id) = py; vNext(id) = -1
        val fresh = wCells.size
        val c = wCells.id(pack(cx, cy))
        if (c == fresh) wHead(c) = id else vNext(wTail(c)) = id
        wTail(c) = id
        id
      }
    }

    // ---- 4. fragments (undirected, deduped across coincident edges);
    // the set's iteration order fixes ring order and start vertices
    val fragSet = new mutable.HashSet[(Int, Int)]()
    def fragment(p: Int, q: Int): Unit =
      if (p != q) fragSet += (if (p < q) (p, q) else (q, p))
    i = 0
    while (i < nE) {
      var p = weld(ax(i), ay(i))
      var k = splitStart(i)
      while (k < splitStart(i + 1)) {
        val s = splitOrder(k)
        val q = weld(splitX(s), splitY(s))
        fragment(p, q)
        p = q
        k += 1
      }
      fragment(p, weld(bx(i), by(i)))
      i += 1
    }

    // ---- 5. classify: sample coverage just left/right of midpoints,
    // asking only the groups near each sample (see Coverage)
    val delta = 1e-8 * scale
    val coverage = new Coverage(groups, weldEps)
    def keptAt(px: Double, py: Double): Boolean = keep(coverage.at(px, py))
    // directed boundary fragments, interior on the left
    val frToB = new mutable.ArrayBuilder.ofInt
    val frFromB = new mutable.ArrayBuilder.ofInt
    fragSet.foreach { case (p, q) =>
      val mx = (vx(p) + vx(q)) / 2; val my = (vy(p) + vy(q)) / 2
      val dx = vx(q) - vx(p); val dy = vy(q) - vy(p)
      val len = math.sqrt(dx * dx + dy * dy)
      val nx = -dy / len; val ny = dx / len // left normal of p→q
      val inL = keptAt(mx + delta * nx, my + delta * ny)
      val inR = keptAt(mx - delta * nx, my - delta * ny)
      if (inL != inR) {
        if (inL) { frFromB.addOne(p); frToB.addOne(q) } else { frFromB.addOne(q); frToB.addOne(p) }
      }
    }
    val frFrom = frFromB.result(); val frTo = frToB.result()
    // outgoing fragments per vertex, ascending fragment index
    val (outStart, outFrag) = byKey(frFrom, nV)

    // ---- 6. trace rings: sharpest-left-turn walk keeps each face's
    // interior on the left through pinch vertices
    val used = new Array[Boolean](frFrom.length)
    val rings = mutable.ArrayBuffer.empty[Array[Double]]
    var f0 = 0
    while (f0 < frFrom.length) {
      if (!used(f0)) {
        val start = frFrom(f0)
        val pts = new mutable.ArrayBuilder.ofDouble
        var cur = f0
        var guard = 0
        var closed = false
        var broken = false
        while (!closed && guard <= frFrom.length) {
          used(cur) = true
          pts.addOne(vx(frFrom(cur))); pts.addOne(vy(frFrom(cur)))
          val v = frTo(cur)
          if (v == start) closed = true
          else {
            val inDx = vx(v) - vx(frFrom(cur)); val inDy = vy(v) - vy(frFrom(cur))
            var best = -1; var bestAng = -4.0 // turn angle in (-π, π]
            var k = outStart(v)
            while (k < outStart(v + 1)) {
              val cand = outFrag(k)
              if (!used(cand)) {
                val oDx = vx(frTo(cand)) - vx(v); val oDy = vy(frTo(cand)) - vy(v)
                val ang = math.atan2(inDx * oDy - inDy * oDx, inDx * oDx + inDy * oDy)
                if (ang > bestAng) { bestAng = ang; best = cand }
              }
              k += 1
            }
            if (best < 0) { closed = true; broken = true } // open chain
            else cur = best
          }
          guard += 1
        }
        val ring = pts.result()
        if (!broken && ring.length >= 6 &&
            math.abs(Geom.signedArea(ring)) > weldEps * weldEps) rings += ring
      }
      f0 += 1
    }
    rings.toSeq
  }

  /** Stable sort of `order(from until to)` by `t(order(k))`: insertion
    * sort for the usual handful of splits per edge, the (stable)
    * library sort otherwise. */
  private def sortByT(order: Array[Int], from: Int, to: Int, t: Array[Double]): Unit =
    if (to - from <= 32) {
      var k = from + 1
      while (k < to) {
        val s = order(k)
        var m = k - 1
        while (m >= from && t(order(m)) > t(s)) { order(m + 1) = order(m); m -= 1 }
        order(m + 1) = s
        k += 1
      }
    } else {
      val sorted = order.slice(from, to).sortBy(t(_))(Ordering.Double.TotalOrdering)
      System.arraycopy(sorted, 0, order, from, sorted.length)
    }
}
