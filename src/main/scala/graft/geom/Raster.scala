package graft.geom

/** Raster↔vector kernels (pure Scala, zero Spark deps).
  *
  * Re-creates the reference's rasterio/pycocotools kernels:
  *  - polygon→mask scanline rasterize (util.py:112-125 `polygon_to_mask`)
  *  - COCO-style column-major RLE encode/decode
  *    (processedinstance.py:102-147)
  *  - mask paste with max/min merge (util.py:476-528 `paste_array`)
  *  - bilinear resample and affine warp (util.py:138-193)
  *  - mask→polygon vectorization with holes (util.py:82-109)
  */
object Raster {

  /** Scanline even-odd polygon fill into a row-major byte mask of
    * (rows x cols), with the polygon expressed in local mask coords.
    * Pixel (r,c) is set iff its center (c+0.5, r+0.5) is inside —
    * matching rasterio's default center sampling. */
  def rasterize(coords: Array[Double], rows: Int, cols: Int,
                mask: Array[Byte] = null): Array[Byte] =
    rasterizeRings(Seq(coords), rows, cols, mask)

  /** Even-odd fill over a RING SET (one polygon-with-holes, or several
    * disjoint polygons and their holes): crossing parity is computed
    * across every ring, so hole rings carve their pixels out — the
    * shapely/rasterio interiors semantic (processedinstance.py:385-407
    * "If the polygon has holes" → RLE mask path). */
  def rasterizeRings(rings: Seq[Array[Double]], rows: Int, cols: Int,
                     mask: Array[Byte] = null): Array[Byte] = {
    val out = if (mask != null) mask else new Array[Byte](rows * cols)
    val valid = rings.filter(_.length >= 6)
    if (valid.isEmpty) return out
    val xs = new Array[Double](valid.map(_.length / 2).sum + 1) // crossing buffer
    var r = 0
    while (r < rows) {
      val py = r + 0.5
      var k = 0
      valid.foreach { coords =>
        val n = coords.length / 2
        var i = 0
        var j = n - 1
        while (i < n) {
          val yi = coords(2 * i + 1); val yj = coords(2 * j + 1)
          if ((yi > py) != (yj > py)) {
            val xi = coords(2 * i); val xj = coords(2 * j)
            xs(k) = xi + (py - yi) / (yj - yi) * (xj - xi)
            k += 1
          }
          j = i
          i += 1
        }
      }
      java.util.Arrays.sort(xs, 0, k)
      var p = 0
      while (p + 1 < k) {
        var c0 = math.ceil(xs(p) - 0.5).toInt
        var c1 = math.floor(xs(p + 1) - 0.5).toInt
        if (c0 < 0) c0 = 0
        if (c1 >= cols) c1 = cols - 1
        var c = c0
        while (c <= c1) { out(r * cols + c) = 1; c += 1 }
        p += 2
      }
      r += 1
    }
    out
  }

  /** Scanline fill of ONE polygon max-blended into an existing mask at
    * value `v` — pixels inside the polygon get `max(current, v)`,
    * pixels outside are untouched. Pixel-identical to
    * `rasterize(coords, rows, cols)` followed by a full-mask max blend
    * (a row outside the polygon's y-range produces no crossings, so
    * restricting the row scan to that range changes nothing), but the
    * scan cost is the polygon's bbox height instead of the full mask —
    * the dominant win when many small polygons land on one big tile
    * (confidenceTiles: ~10⁴ crowns × 128² tiles would otherwise scan
    * every tile row per crown). */
  def rasterizeMaxInto(coords: Array[Double], rows: Int, cols: Int,
                       mask: Array[Byte], v: Byte): Unit = {
    if (coords.length < 6) return
    val n = coords.length / 2
    var minY = coords(1); var maxY = coords(1)
    var i = 1
    while (i < n) {
      val y = coords(2 * i + 1)
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      i += 1
    }
    // rows whose center py = r + 0.5 can see a crossing: minY <= py <= maxY
    var r = math.max(0, math.ceil(minY - 0.5).toInt)
    val rEnd = math.min(rows - 1, math.floor(maxY - 0.5).toInt)
    val xs = new Array[Double](n + 1)
    val vi = v & 0xff
    while (r <= rEnd) {
      val py = r + 0.5
      var k = 0
      var ii = 0
      var j = n - 1
      while (ii < n) {
        val yi = coords(2 * ii + 1); val yj = coords(2 * j + 1)
        if ((yi > py) != (yj > py)) {
          val xi = coords(2 * ii); val xj = coords(2 * j)
          xs(k) = xi + (py - yi) / (yj - yi) * (xj - xi)
          k += 1
        }
        j = ii
        ii += 1
      }
      java.util.Arrays.sort(xs, 0, k)
      var p = 0
      while (p + 1 < k) {
        var c0 = math.ceil(xs(p) - 0.5).toInt
        var c1 = math.floor(xs(p + 1) - 0.5).toInt
        if (c0 < 0) c0 = 0
        if (c1 >= cols) c1 = cols - 1
        var c = c0
        while (c <= c1) {
          if ((mask(r * cols + c) & 0xff) < vi) mask(r * cols + c) = v
          c += 1
        }
        p += 2
      }
      r += 1
    }
  }

  /** COCO RLE encode: column-major (Fortran order) run lengths of
    * alternating 0/1 runs, starting with a 0-run (possibly length 0).
    * Matches pycocotools' uncompressed `counts` list semantics. */
  def rleEncode(mask: Array[Byte], rows: Int, cols: Int): Array[Int] = {
    val counts = new scala.collection.mutable.ArrayBuffer[Int]()
    var cur: Byte = 0
    var run = 0
    var c = 0
    while (c < cols) {
      var r = 0
      while (r < rows) {
        val v: Byte = if (mask(r * cols + c) != 0) 1 else 0
        if (v == cur) run += 1
        else { counts += run; cur = v; run = 1 }
        r += 1
      }
      c += 1
    }
    counts += run
    counts.toArray
  }

  /** Inverse of [[rleEncode]]. */
  def rleDecode(counts: Array[Int], rows: Int, cols: Int): Array[Byte] = {
    val mask = new Array[Byte](rows * cols)
    var pos = 0
    var v: Byte = 0
    var i = 0
    while (i < counts.length) {
      var k = 0
      while (k < counts(i)) {
        val r = pos % rows; val c = pos / rows
        mask(r * cols + c) = v
        pos += 1
        k += 1
      }
      v = (1 - v).toByte
      i += 1
    }
    mask
  }

  /** pycocotools compressed-RLE string codec (the `counts` string in
    * COCO annotations; public format — signed 5-bit LEB128-style groups
    * offset by 48, runs after the 2nd delta-encoded against the run two
    * earlier). Decodes/encodes the reference's golden fixture
    * (tests/unit/5c15321f63d9810007f8b06f_10_00000.json) byte-exactly. */
  def rleFromCocoString(s: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var p = 0
    while (p < s.length) {
      var x = 0L
      var k = 0
      var more = true
      while (more) {
        require(p < s.length,
          s"malformed COCO RLE: continuation past end at char $p")
        val c = s.charAt(p) - 48
        x |= (c & 0x1fL) << (5 * k)
        more = (c & 0x20) != 0
        p += 1
        k += 1
        if (!more && (c & 0x10) != 0) x |= -1L << (5 * k)
      }
      if (out.size > 2) x += out(out.size - 2)
      out += x.toInt
    }
    out.toArray
  }

  def rleToCocoString(counts: Array[Int]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < counts.length) {
      var x: Long = counts(i)
      if (i > 2) x -= counts(i - 2)
      var more = true
      while (more) {
        val c = (x & 0x1f).toInt
        x >>= 5
        more = if ((c & 0x10) != 0) x != -1 else x != 0
        sb.append(((if (more) c | 0x20 else c) + 48).toChar)
      }
      i += 1
    }
    sb.toString
  }

  /** Paste `src` (rows×cols at offset (dr,dc)) into `dst`
    * (dstRows×dstCols) with merge semantics: 0=overwrite, 1=max, 2=min.
    * Mirrors util.py:476-528. */
  def paste(dst: Array[Byte], dstRows: Int, dstCols: Int,
            src: Array[Byte], rows: Int, cols: Int,
            dr: Int, dc: Int, mode: Int): Unit = {
    var r = 0
    while (r < rows) {
      val tr = r + dr
      if (tr >= 0 && tr < dstRows) {
        var c = 0
        while (c < cols) {
          val tc = c + dc
          if (tc >= 0 && tc < dstCols) {
            val s = src(r * cols + c)
            val di = tr * dstCols + tc
            mode match {
              case 0 => dst(di) = s
              case 1 => if ((s & 0xff) > (dst(di) & 0xff)) dst(di) = s
              case 2 => if ((s & 0xff) < (dst(di) & 0xff)) dst(di) = s
            }
          }
          c += 1
        }
      }
      r += 1
    }
  }

  /** Bilinear resample of a row-major uint8 raster to (outRows, outCols)
    * — reference R4 (evaluate.py:48-57, util.py:191-193 bilinear
    * window resample). Pixel-center sampling, edge-clamped. */
  def resampleBilinear(src: Array[Byte], rows: Int, cols: Int,
                       outRows: Int, outCols: Int): Array[Byte] = {
    val out = new Array[Byte](outRows * outCols)
    val sy = rows.toDouble / outRows
    val sx = cols.toDouble / outCols
    var r = 0
    while (r < outRows) {
      val fy = (r + 0.5) * sy - 0.5
      val y0 = math.max(0, math.min(rows - 1, math.floor(fy).toInt))
      val y1 = math.min(rows - 1, y0 + 1)
      val wy = math.max(0.0, math.min(1.0, fy - y0))
      var c = 0
      while (c < outCols) {
        val fx = (c + 0.5) * sx - 0.5
        val x0 = math.max(0, math.min(cols - 1, math.floor(fx).toInt))
        val x1 = math.min(cols - 1, x0 + 1)
        val wx = math.max(0.0, math.min(1.0, fx - x0))
        val v =
          (src(y0 * cols + x0) & 0xff) * (1 - wy) * (1 - wx) +
          (src(y0 * cols + x1) & 0xff) * (1 - wy) * wx +
          (src(y1 * cols + x0) & 0xff) * wy * (1 - wx) +
          (src(y1 * cols + x1) & 0xff) * wy * wx
        out(r * outCols + c) = math.round(v).toByte
        c += 1
      }
      r += 1
    }
    out
  }

  /** Raster warp (P8, util.py:138-170 `reproject_image` /
    * rasterio.warp.reproject structure) given the INVERSE affine
    * (dst pixel → src pixel: sx = ia·x + ib·y + itx,
    * sy = id·x + ie·y + ity), evaluated at each destination pixel
    * center. The sample is nearest-neighbor (the reference's mask
    * setting, `Resampling.nearest` with src/dst nodata 0) or bilinear
    * (its imagery setting); destination pixels mapping outside the
    * source read 0 = nodata. Allocation-free hot loop; `warpTiles`
    * composes its world affine into this pixel-space inverse. */
  def warpInverseAffine(src: Array[Byte], rows: Int, cols: Int,
                        outRows: Int, outCols: Int,
                        ia: Double, ib: Double, itx: Double,
                        id: Double, ie: Double, ity: Double,
                        bilinear: Boolean = false): Array[Byte] = {
    val out = new Array[Byte](outRows * outCols)
    var r = 0
    while (r < outRows) {
      val y = r + 0.5
      var c = 0
      while (c < outCols) {
        val x = c + 0.5
        val sx = ia * x + ib * y + itx
        val sy = id * x + ie * y + ity
        if (bilinear) {
          val fy = sy - 0.5
          val fx = sx - 0.5
          if (fx > -1 && fx < cols && fy > -1 && fy < rows) {
            val y0 = math.max(0, math.min(rows - 1, math.floor(fy).toInt))
            val y1 = math.min(rows - 1, y0 + 1)
            val wy = math.max(0.0, math.min(1.0, fy - y0))
            val x0 = math.max(0, math.min(cols - 1, math.floor(fx).toInt))
            val x1 = math.min(cols - 1, x0 + 1)
            val wx = math.max(0.0, math.min(1.0, fx - x0))
            val v =
              (src(y0 * cols + x0) & 0xff) * (1 - wy) * (1 - wx) +
              (src(y0 * cols + x1) & 0xff) * (1 - wy) * wx +
              (src(y1 * cols + x0) & 0xff) * wy * (1 - wx) +
              (src(y1 * cols + x1) & 0xff) * wy * wx
            out(r * outCols + c) = math.round(v).toByte
          }
        } else {
          val sc = math.floor(sx).toInt
          val sr = math.floor(sy).toInt
          if (sc >= 0 && sc < cols && sr >= 0 && sr < rows)
            out(r * outCols + c) = src(sr * cols + sc)
        }
        c += 1
      }
      r += 1
    }
    out
  }

  /** mask→polygon: trace the outer boundary of each connected component
    * (border following on the pixel grid), returning pixel-corner
    * rings. The lightweight analogue of rasterio.features.shapes
    * (util.py:82-109 `mask_to_polygon`). Outer rings only — see
    * [[vectorizeWithHoles]] for the hole-aware variant. */
  def vectorize(mask: Array[Byte], rows: Int, cols: Int): Seq[Array[Double]] =
    vectorizeWithHoles(mask, rows, cols).map(_.head)

  /** mask→polygons WITH holes: per 4-connected foreground component, a
    * ring list (outer ring first, then its hole rings) under EVEN-ODD
    * semantics — [[rasterizeRings]] over the returned rings reproduces
    * the mask's pixels exactly (asserted per-annotation against the
    * reference's 387-instance fixture; reference hole handling:
    * processedinstance.py:385-426). A hole is an 8-connected background
    * component that touches no mask border; its enclosing component is
    * the pixel directly above its first row-major pixel (that pixel is
    * provably foreground). Components come in the row-major order of
    * their first pixel, and holes in that order within a component. */
  def vectorizeWithHoles(mask: Array[Byte], rows: Int, cols: Int): Seq[Seq[Array[Double]]] = {
    if (rows <= 0 || cols <= 0) return Seq.empty
    val comps = connectedComponents(mask, rows, cols)
    val tracer = new Tracer(comps, rows, cols)
    val touchesBorder = new Array[Boolean](comps.nBg + 1)
    def markBorder(i: Int): Unit = { val k = comps(i); if (k < 0) touchesBorder(-k) = true }
    var c = 0
    while (c < cols) { markBorder(c); markBorder((rows - 1) * cols + c); c += 1 }
    var r = 0
    while (r < rows) { markBorder(r * cols); markBorder(r * cols + cols - 1); r += 1 }
    // prepended from the last hole down, so each list is in hole order
    val holes = Array.fill[List[Array[Double]]](comps.nFg + 1)(Nil)
    var h = comps.nBg
    while (h >= 1) {
      if (!touchesBorder(h)) {
        val first = comps.bgFirst(h)
        val encl = comps(first - cols) // pixel above the first hole pixel
        holes(encl) = tracer.ring(-h, first) :: holes(encl)
      }
      h -= 1
    }
    (1 to comps.nFg).map(k => tracer.ring(k, comps.fgFirst(k)) :: holes(k))
  }

  /** Component labels of one mask (see [[connectedComponents]]).
    * `apply(i)` is pixel `i`'s component: foreground components are
    * 1..nFg and background components −1..−nBg, each numbered in the
    * row-major order of its first pixel, which `fgFirst` / `bgFirst`
    * hold (index 0 unused). Pixels keep their provisional labels;
    * `dense` maps each one to its component. */
  final class Components private[Raster] (labels: Array[Int], dense: Array[Int],
                                          val fgFirst: Array[Int], val bgFirst: Array[Int]) {
    def nFg: Int = fgFirst.length - 1
    def nBg: Int = bgFirst.length - 1
    def apply(i: Int): Int = dense(labels(i))
  }

  /** Labels the 4-connected foreground and the 8-connected background of
    * a mask in one row-major scan. Mirrors skimage.measure.label as used
    * in tools/make_masks.py:64-87 for the foreground; the background
    * uses 8-connectivity because [[vectorizeWithHoles]] needs the
    * topological dual (4-connected foreground ↔ 8-connected
    * background): with 4-connectivity on both, a background pocket
    * reachable through a diagonal gap would be misread as a hole and
    * break the even-odd round trip.
    *
    * Each pixel gets a provisional label from its already-scanned
    * neighbours of the same kind, or a new one; a pixel joining two
    * labels links their classes under the smaller root. Foreground
    * labels are odd and background labels even, each minted in scan
    * order, so a class's smallest label was minted at its first pixel.
    * One walk over the labels in increasing order then maps every
    * label to its dense component number, in first-pixel order. */
  def connectedComponents(mask: Array[Byte], rows: Int, cols: Int): Components = {
    val labels = new Array[Int](rows * cols)
    var eq = new Array[Int](64)   // union-find parent; eq(l) <= l
    var mint = new Array[Int](64) // pixel where label l was minted
    var nextFg = 1
    var nextBg = 2
    var i = 0
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        var lbl = 0
        val fg = mask(i) != 0
        if (fg) {
          if (r > 0 && mask(i - cols) != 0) lbl = labels(i - cols)
          if (c > 0 && mask(i - 1) != 0) lbl = join(eq, lbl, labels(i - 1))
        } else if (r > 0 && mask(i - cols) == 0) {
          // the background above is 8-adjacent to every other background
          // neighbour, so they are already joined with it
          lbl = labels(i - cols)
        } else {
          // left and up-left are joined already (vertical neighbours)
          if (c > 0 && mask(i - 1) == 0) lbl = labels(i - 1)
          else if (r > 0 && c > 0 && mask(i - cols - 1) == 0) lbl = labels(i - cols - 1)
          if (r > 0 && c < cols - 1 && mask(i - cols + 1) == 0) lbl = join(eq, lbl, labels(i - cols + 1))
        }
        if (lbl == 0) {
          lbl = if (fg) nextFg else nextBg
          if (lbl >= eq.length) {
            eq = java.util.Arrays.copyOf(eq, 2 * eq.length)
            mint = java.util.Arrays.copyOf(mint, 2 * mint.length)
          }
          eq(lbl) = lbl
          mint(lbl) = i
          if (fg) nextFg += 2 else nextBg += 2
        }
        labels(i) = lbl
        i += 1
        c += 1
      }
      r += 1
    }
    // eq(l) < l for every non-root, so the parent is already dense
    val fgFirst = new Array[Int]((nextFg + 1) / 2)
    val bgFirst = new Array[Int](nextBg / 2)
    var nFg = 0
    var nBg = 0
    var l = 1
    while (l < math.max(nextFg, nextBg)) {
      if (l < (if ((l & 1) == 1) nextFg else nextBg)) {
        val p = eq(l)
        if (p != l) eq(l) = eq(p)
        else if ((l & 1) == 1) { nFg += 1; eq(l) = nFg; fgFirst(nFg) = mint(l) }
        else { nBg += 1; eq(l) = -nBg; bgFirst(nBg) = mint(l) }
      }
      l += 1
    }
    new Components(labels, eq, java.util.Arrays.copyOf(fgFirst, nFg + 1),
      java.util.Arrays.copyOf(bgFirst, nBg + 1))
  }

  /** `lbl` joined with neighbour label `o` (0 = no label yet): the root
    * of their joined class, so the row carries that label on and meets
    * fewer distinct labels above it. */
  private def join(eq: Array[Int], lbl: Int, o: Int): Int =
    if (lbl == 0) o
    else if (o == lbl) lbl
    else {
      val ra = root(eq, lbl)
      val rb = root(eq, o)
      if (ra < rb) { eq(rb) = ra; ra } else { eq(ra) = rb; rb }
    }

  private def root(eq: Array[Int], l: Int): Int = {
    var rt = l
    while (eq(rt) != rt) rt = eq(rt)
    var c = l
    while (eq(c) != rt) { val nx = eq(c); eq(c) = rt; c = nx }
    rt
  }

  /** Traces the boundary of a component clockwise along pixel edges,
    * square tracing on the corner lattice, into one corner buffer
    * reused across rings. */
  private final class Tracer(comps: Components, rows: Int, cols: Int) {
    private var xy = new Array[Int](64)
    private var n = 0

    private def push(x: Int, y: Int): Unit = {
      if (n + 2 > xy.length) xy = java.util.Arrays.copyOf(xy, 2 * xy.length)
      xy(n) = x; xy(n + 1) = y
      n += 2
    }

    /** The ring of component `k`, starting at the top-left corner of its
      * first pixel `start` heading east (the pixel above is not in `k`).
      * Returns corner coordinates (x=col, y=row), one per turn of the
      * heading, so no two consecutive edges are collinear. */
    def ring(k: Int, start: Int): Array[Double] = {
      def at(r: Int, c: Int): Boolean =
        r >= 0 && r < rows && c >= 0 && c < cols && comps(r * cols + c) == k
      val x0 = start % cols
      val y0 = start / cols
      var x = x0
      var y = y0
      var dir = 0 // 0 east, 1 south, 2 west, 3 north (clockwise, y down)
      n = 0
      push(x0, y0)
      var steps = 0
      val maxSteps = 4 * (rows + 2) * (cols + 2)
      do {
        // advance one edge, then turn on the two pixels ahead of the corner:
        // left one in → turn left; neither in → turn right; else straight
        var leftIn = false
        var rightIn = false
        if (dir == 0) { x += 1; leftIn = at(y - 1, x); rightIn = at(y, x) }
        else if (dir == 1) { y += 1; leftIn = at(y, x); rightIn = at(y, x - 1) }
        else if (dir == 2) { x -= 1; leftIn = at(y, x - 1); rightIn = at(y - 1, x - 1) }
        else { y -= 1; leftIn = at(y - 1, x - 1); rightIn = at(y - 1, x) }
        val turn = if (leftIn) 3 else if (!rightIn) 1 else 0
        if (turn != 0) {
          dir = (dir + turn) & 3
          if (x != x0 || y != y0) push(x, y)
        }
        steps += 1
      } while ((x != x0 || y != y0) && steps < maxSteps)
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = xy(i); i += 1 }
      out
    }
  }
}
