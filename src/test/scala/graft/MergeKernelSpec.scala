package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{Geom, Raster}
import graft.geom.Geom.BBox
import graft.operators.{CrownOps, GeoOps}
import graft.operators.CrownOps.Crown
import graft.tables.PagesGen

/** The tracer as it was before it moved to primitive arrays (a
  * per-pixel union-find remap through a boxed map, a separate
  * background pass, one corner per edge, then a collinear-vertex pass),
  * kept verbatim as the reference [[MergeKernelSpec]] diffs
  * `Raster.vectorizeWithHoles` against. */
object TracerReference {

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

/** Differential tests of the two crown-merge kernels: the tracer against
  * [[TracerReference]] ring for ring, and `CrownOps.nmsLocal` against
  * a plain O(n²) greedy NMS with no spatial hash. */
class MergeKernelSpec extends AnyFunSuite {

  private def sameRings(got: Seq[Seq[Array[Double]]], want: Seq[Seq[Array[Double]]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }

  private def assertTracesLikeReference(mask: Array[Byte], rows: Int, cols: Int, what: => String): Unit = {
    val want = TracerReference.vectorizeWithHoles(mask, rows, cols)
    val got = Raster.vectorizeWithHoles(mask, rows, cols)
    assert(sameRings(got, want), s"$what (${rows}x$cols): ${got.map(_.map(_.mkString(",")))} " +
      s"!= ${want.map(_.map(_.mkString(",")))}")
  }

  test("vectorizeWithHoles equals the reference tracer ring for ring") {
    val rnd = new scala.util.Random(1515)
    // pinned-seed fuzz: every size from 1x1 to 64x64 is reachable
    for (density <- Seq(0.2, 0.5, 0.8); k <- 0 until 400) {
      val rows = 1 + rnd.nextInt(64); val cols = 1 + rnd.nextInt(64)
      val mask = Array.fill[Byte](rows * cols)(if (rnd.nextDouble() < density) 1 else 0)
      assertTracesLikeReference(mask, rows, cols, s"fuzz density $density case $k")
    }
    for (n <- Seq(1, 2, 3, 7, 64); density <- Seq(0.2, 0.5, 0.8); k <- 0 until 20) {
      val line = Array.fill[Byte](n)(if (rnd.nextDouble() < density) 1 else 0)
      assertTracesLikeReference(line, 1, n, s"1-row $k")
      assertTracesLikeReference(line, n, 1, s"1-column $k")
    }
    for (rows <- Seq(1, 2, 5, 8); cols <- Seq(1, 3, 8); phase <- 0 to 1) {
      val board = Array.tabulate[Byte](rows * cols)(i => ((i / cols + i % cols + phase) % 2).toByte)
      assertTracesLikeReference(board, rows, cols, s"checkerboard phase $phase")
    }
    // diagonal pinches: two blocks touching at one corner, both ways
    for (anti <- Seq(false, true)) {
      val mask = new Array[Byte](36)
      for (r <- 0 until 6; c <- 0 until 6) {
        val cc = if (anti) 5 - c else c
        if ((r < 3 && cc < 3) || (r >= 3 && cc >= 3)) mask(r * 6 + c) = 1
      }
      assertTracesLikeReference(mask, 6, 6, s"pinch anti=$anti")
      assertTracesLikeReference(mask.map(v => (1 - v).toByte), 6, 6, s"inverted pinch anti=$anti")
    }
    // an island inside the hole of a donut, and a donut inside a donut
    val nested = new Array[Byte](13 * 13)
    for (r <- 0 until 13; c <- 0 until 13) {
      val d = math.max(math.abs(r - 6), math.abs(c - 6))
      if (d == 6 || d == 4 || d == 0) nested(r * 13 + c) = 1
    }
    assertTracesLikeReference(nested, 13, 13, "nested islands")
    for (rows <- Seq(1, 4, 64); cols <- Seq(1, 5, 64)) {
      assertTracesLikeReference(Array.fill[Byte](rows * cols)(1), rows, cols, "full")
      assertTracesLikeReference(new Array[Byte](rows * cols), rows, cols, "empty")
    }
    assertTracesLikeReference(Array.emptyByteArray, 0, 5, "no rows")
    ReferenceFixture.annotations.foreach(a =>
      assertTracesLikeReference(a.mask, a.rows, a.cols, s"fixture ann ${a.id}"))
  }

  /** Plain greedy NMS: stable sort by (−score, crownId), then keep a crown
    * unless `BBox.iou` with a kept one exceeds `thr`; kept in input order. */
  private def nmsOracle(crowns: IndexedSeq[Crown], thr: Double): IndexedSeq[Crown] = {
    def box(c: Crown) = BBox(c.minX, c.minY, c.maxX, c.maxY)
    val order = crowns.indices.sortBy(i => (-crowns(i).score, crowns(i).crownId))
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    order.foreach { i =>
      if (!kept.exists(k => box(crowns(i)).iou(box(crowns(k))) > thr)) kept += i
    }
    kept.sorted.map(crowns).toIndexedSeq
  }

  /** Crowns are told apart by `pageId`, their index in the input. */
  private def assertNmsLikeOracle(crowns: IndexedSeq[Crown], thr: Double, what: => String): Unit = {
    val tagged = crowns.zipWithIndex.map { case (c, i) => c.copy(pageId = i.toLong) }
    val got = CrownOps.nmsLocal(tagged, thr).map(_.pageId)
    val want = nmsOracle(tagged, thr).map(_.pageId)
    assert(got === want, s"$what, thr $thr")
  }

  private def boxCrown(id: Long, score: Double, x0: Double, y0: Double, x1: Double, y1: Double) =
    Crown(0L, id, 0L, 0L, 1, score, x0, y0, x1, y1, Array(x0, y0, x1, y0, x1, y1))

  test("nmsLocal equals the O(n²) greedy oracle on fixture, 2000-page and fuzzed crowns") {
    val fixture = ReferenceFixture.crowns
    val spark = SparkTestBase.spark
    val pages = CrownOps.synthesize(spark, GeoOps.assignTiles(PagesGen.pages(spark, 2000)),
      GeoOps.TileGrid.Default).collect().toIndexedSeq
    val groups = Seq("fixture" -> fixture, "2000 pages" -> pages).flatMap { case (name, cs) =>
      cs.groupBy(c => (c.region, c.classIdx)).toSeq.sortBy(_._1)
        .map { case (key, g) => (s"$name group $key", g) }
    }
    assert(groups.map(_._2.size).sum === fixture.size + pages.size)
    for ((name, g) <- groups; thr <- Seq(0.0, 0.3, 0.7)) assertNmsLikeOracle(g, thr, name)

    // ties, duplicates, zero-area and inverted boxes, NaN and ±0 scores,
    // negative coordinates and coordinates near 1, 1e6 and 1e9, and a
    // few boxes wide enough to skip the spatial hash
    val rnd = new scala.util.Random(1516)
    val scores = Array(0.9, 0.5, 0.5, 0.0, -0.0, Double.NaN, 1.0)
    for (k <- 0 until 300) {
      val scale = Seq(1.0, 1e6, 1e9)(k % 3)
      val sign = if (rnd.nextBoolean()) 1.0 else -1.0
      val n = 1 + rnd.nextInt(120)
      val cs = scala.collection.mutable.ArrayBuffer.empty[Crown]
      while (cs.size < n) {
        if (cs.nonEmpty && rnd.nextInt(6) == 0) cs += cs(rnd.nextInt(cs.size)) // exact duplicate
        else {
          val x0 = sign * scale + rnd.nextInt(400) - 200
          val y0 = sign * scale + rnd.nextInt(400) - 200
          val (w, h) = rnd.nextInt(10) match {
            case 0 => (0.0, rnd.nextInt(40).toDouble)
            case 1 => (rnd.nextInt(40).toDouble, 0.0)
            case 2 => (-5.0, 10.0)
            case 3 => (4000.0 + rnd.nextInt(9000), 5000.0)
            case _ => (1.0 + rnd.nextInt(60) + rnd.nextDouble(), 1.0 + rnd.nextInt(60))
          }
          val score = if (rnd.nextBoolean()) scores(rnd.nextInt(scores.length)) else rnd.nextDouble()
          cs += boxCrown(rnd.nextInt(20).toLong, score, x0, y0, x0 + w, y0 + h)
        }
      }
      for (thr <- Seq(0.0, 0.25, 0.5, 0.7)) assertNmsLikeOracle(cs.toIndexedSeq, thr, s"fuzz case $k")
    }
  }

  test("nmsLocal: one 1e7-px-wide crown among normal ones equals the oracle, in seconds") {
    val rnd = new scala.util.Random(1517)
    val normal = (0 until 2000).map { i =>
      val x = rnd.nextInt(20000).toDouble; val y = rnd.nextInt(20000).toDouble
      boxCrown(i.toLong, rnd.nextDouble(), x, y, x + 10 + rnd.nextInt(50), y + 10 + rnd.nextInt(50))
    }
    val wide = Seq(
      boxCrown(9000L, 2.0, -5e6, -5e6, 5e6, 5e6),                 // 1e7 px each way, kept first
      boxCrown(9001L, 0.95, 0.0, 0.0, 20000.0, 20000.0),
      boxCrown(9002L, 0.5, -1e300, -1e300, 1e300, 1e300),
      boxCrown(9003L, 0.4, 100.0, 100.0, Double.PositiveInfinity, 140.0))
    val crowns = (normal ++ wide).toIndexedSeq
    val t0 = System.nanoTime()
    for (thr <- Seq(0.0, 0.5)) assertNmsLikeOracle(crowns, thr, "wide crowns")
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "the wide crowns took too long")
  }
}
