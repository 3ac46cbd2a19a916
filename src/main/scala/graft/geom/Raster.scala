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

  /** First (row-major) pixel of each label in ONE pass — labels are
    * assigned in scan order, so first occurrence is also the
    * top-left-most start pixel traceBoundary needs. */
  private def firstPixels(labels: Array[Int]): Array[Int] = {
    val nLabels = if (labels.isEmpty) 0 else labels.max
    val firstPixel = Array.fill(nLabels + 1)(-1)
    var i = 0
    while (i < labels.length) {
      val l = labels(i)
      if (l != 0 && firstPixel(l) < 0) firstPixel(l) = i
      i += 1
    }
    firstPixel
  }

  /** mask→polygons WITH holes: per 4-connected foreground component, a
    * ring list (outer ring first, then its hole rings) under EVEN-ODD
    * semantics — [[rasterizeRings]] over the returned rings reproduces
    * the mask's pixels exactly (asserted per-annotation against the
    * reference's 387-instance fixture; reference hole handling:
    * processedinstance.py:385-426). A hole is a 4-connected background
    * component that touches no mask border; its enclosing component is
    * the pixel directly above its first row-major pixel (that pixel is
    * provably foreground). */
  def vectorizeWithHoles(mask: Array[Byte], rows: Int, cols: Int): Seq[Seq[Array[Double]]] = {
    if (rows <= 0 || cols <= 0) return Seq.empty
    val labels = connectedComponents(mask, rows, cols)
    val firstPixel = firstPixels(labels)
    val nLabels = firstPixel.length - 1

    // background components (holes candidate set) — 8-connected, the
    // topological dual of the 4-connected foreground (see
    // connectedComponents doc): a background pocket reachable through a
    // diagonal gap is NOT a hole
    val bg = new Array[Byte](mask.length)
    var i = 0
    while (i < mask.length) { if (mask(i) == 0) bg(i) = 1; i += 1 }
    val bgLabels = connectedComponents(bg, rows, cols, connectivity = 8)
    val bgFirst = firstPixels(bgLabels)
    val nBg = bgFirst.length - 1
    val touchesBorder = new Array[Boolean](nBg + 1)
    var c = 0
    while (c < cols) {
      touchesBorder(bgLabels(c)) = true
      touchesBorder(bgLabels((rows - 1) * cols + c)) = true
      c += 1
    }
    var r = 0
    while (r < rows) {
      touchesBorder(bgLabels(r * cols)) = true
      touchesBorder(bgLabels(r * cols + cols - 1)) = true
      r += 1
    }

    val holesByFg = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Array[Double]]]()
    var hl = 1
    while (hl <= nBg) {
      if (!touchesBorder(hl)) {
        val idx = bgFirst(hl)
        val encl = labels(idx - cols) // pixel above the first hole pixel
        var buf = holesByFg.get(encl)
        if (buf == null) {
          buf = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
          holesByFg.put(encl, buf)
        }
        buf += traceBoundary(bgLabels, rows, cols, hl, idx)
      }
      hl += 1
    }

    (1 to nLabels).map { lbl =>
      val outer = traceBoundary(labels, rows, cols, lbl, firstPixel(lbl))
      val holes = Option(holesByFg.get(lbl)).map(_.toSeq).getOrElse(Seq.empty)
      outer +: holes
    }.filter(_.head.length >= 6)
  }

  /** 4-connected component labeling (two-pass union-find). Mirrors
    * skimage.measure.label as used in tools/make_masks.py:64-87.
    * `connectivity = 8` also links diagonals — needed for BACKGROUND
    * labeling in [[vectorizeWithHoles]] (topological duality:
    * 4-connected foreground ↔ 8-connected background; with 4-conn on
    * both, a diagonal-gap background pocket would be misread as a
    * hole and break the even-odd round trip). */
  def connectedComponents(mask: Array[Byte], rows: Int, cols: Int,
                          connectivity: Int = 4): Array[Int] = {
    val labels = new Array[Int](rows * cols)
    val uf = new Geom.UnionFind(rows * cols / 2 + 2)
    val diag = connectivity == 8
    var next = 1
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        if (mask(r * cols + c) != 0) {
          val up = if (r > 0) labels((r - 1) * cols + c) else 0
          val left = if (c > 0) labels(r * cols + c - 1) else 0
          val upL = if (diag && r > 0 && c > 0) labels((r - 1) * cols + c - 1) else 0
          val upR = if (diag && r > 0 && c < cols - 1) labels((r - 1) * cols + c + 1) else 0
          // allocation-free neighbor fold (this runs per foreground
          // pixel, twice per vectorizeWithHoles call — fg + bg passes)
          var lbl = 0
          if (up != 0) lbl = up
          if (left != 0) {
            if (lbl == 0) lbl = left
            else if (left != lbl) { uf.union(lbl, left); lbl = math.min(lbl, left) }
          }
          if (upL != 0) {
            if (lbl == 0) lbl = upL
            else if (upL != lbl) { uf.union(lbl, upL); lbl = math.min(lbl, upL) }
          }
          if (upR != 0) {
            if (lbl == 0) lbl = upR
            else if (upR != lbl) { uf.union(lbl, upR); lbl = math.min(lbl, upR) }
          }
          if (lbl == 0) { lbl = next; next += 1 }
          labels(r * cols + c) = lbl
        }
        c += 1
      }
      r += 1
    }
    // compress to canonical, densely renumbered labels
    val remap = new java.util.HashMap[Int, Int]()
    var dense = 0
    var i = 0
    while (i < labels.length) {
      if (labels(i) != 0) {
        val root = uf.find(labels(i))
        var d = remap.getOrDefault(root, 0)
        if (d == 0) { dense += 1; d = dense; remap.put(root, d) }
        labels(i) = d
      }
      i += 1
    }
    labels
  }

  /** Trace the outer boundary of component `lbl` clockwise along pixel
    * edges, starting from its top-left-most pixel. Returns corner
    * coordinates (x=col, y=row). */
  private def traceBoundary(labels: Array[Int], rows: Int, cols: Int, lbl: Int,
                            startIdx: Int): Array[Double] = {
    def at(r: Int, c: Int): Boolean =
      r >= 0 && r < rows && c >= 0 && c < cols && labels(r * cols + c) == lbl
    if (startIdx < 0) return Array.emptyDoubleArray
    val sr = startIdx / cols; val sc = startIdx % cols
    // square-tracing on the corner lattice. State: corner (x,y) + heading.
    // Start at the top-left corner of the start pixel heading east along
    // its top edge (the pixel above is guaranteed empty).
    val out = new scala.collection.mutable.ArrayBuffer[Double]()
    var x = sc; var y = sr
    var dx = 1; var dy = 0
    val x0 = x; val y0 = y
    var steps = 0
    val maxSteps = 4 * (rows + 2) * (cols + 2)
    do {
      out += x.toDouble; out += y.toDouble
      // advance one edge, then turn based on the two pixels ahead.
      x += dx; y += dy
      // pixels left/right of the new heading position determine the turn.
      // heading east: leftPix=(y-1,x), rightPix=(y,x); north: left=(y-1,x-1) right=(y-1,x);
      // west: left=(y,x-1) right=(y-1,x-1); south: left=(y,x) right=(y,x-1)
      val (lpr, lpc, rpr, rpc) = (dx, dy) match {
        case (1, 0)  => (y - 1, x, y, x)
        case (0, -1) => (y - 1, x - 1, y - 1, x)
        case (-1, 0) => (y, x - 1, y - 1, x - 1)
        case _       => (y, x, y, x - 1)
      }
      val leftIn = at(lpr, lpc)
      val rightIn = at(rpr, rpc)
      if (leftIn) { val t = dx; dx = dy; dy = -t }        // turn left
      else if (!rightIn) { val t = dx; dx = -dy; dy = t } // turn right
      // else continue straight
      steps += 1
    } while ((x != x0 || y != y0) && steps < maxSteps)
    // drop collinear interior vertices
    dedupCollinear(out.toArray)
  }

  private def dedupCollinear(c: Array[Double]): Array[Double] = {
    val n = c.length / 2
    if (n < 4) return c
    val out = new scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < n) {
      val p = (i + n - 1) % n
      val q = (i + 1) % n
      val cross = (c(2 * i) - c(2 * p)) * (c(2 * q + 1) - c(2 * p + 1)) -
                  (c(2 * i + 1) - c(2 * p + 1)) * (c(2 * q) - c(2 * p))
      if (math.abs(cross) > 1e-12) { out += c(2 * i); out += c(2 * i + 1) }
      i += 1
    }
    out.toArray
  }
}
