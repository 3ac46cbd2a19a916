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

  /** The merge with no spatial index: greedy NMS ([[nmsOracle]]), the
    * confidence and NaN-bbox filters, an O(n²) closure of
    * bbox-then-polygon `intersects`, a brute-force centroid filter and
    * pop-merge whose mask IoU rasterizes each part with the full-scan
    * `Raster.rasterize`. One row per merged instance: (ids, scores,
    * parts, bbox, sorted-array median), in the order of their text. */
  private def mergeReference(crowns: IndexedSeq[Crown], cls: Int, nmsIou: Double,
                             confThr: Double, mergeIou: Double) = {
    case class R(ids: List[Long], scores: List[Double], parts: List[Array[Double]]) {
      def bbox: BBox = parts.map(BBox.ofPolygon).reduce(_ union _)
    }
    val insts = nmsOracle(crowns, nmsIou).filter(c => c.classIdx == cls && c.score > confThr &&
        !(c.minX.isNaN || c.minY.isNaN || c.maxX.isNaN || c.maxY.isNaN))
      .map(c => R(List(c.crownId), List(c.score), List(c.poly)))
    def touches(a: R, b: R) = a.bbox.intersects(b.bbox) && Geom.intersects(a.parts.head, b.parts.head)
    val comp = Array.fill(insts.size)(-1)
    for (s <- insts.indices if comp(s) < 0) {
      comp(s) = s
      val stack = scala.collection.mutable.Stack(s)
      while (stack.nonEmpty) {
        val u = stack.pop()
        for (v <- insts.indices if comp(v) < 0 && touches(insts(u), insts(v))) { comp(v) = s; stack.push(v) }
      }
    }
    def iou(a: R, b: R): Double = {
      if (!a.bbox.intersects(b.bbox)) 0.0
      else if (a.parts.size == 1 && b.parts.size == 1) Geom.iouConvex(a.parts.head, b.parts.head)
      else {
        val bb = a.bbox.union(b.bbox)
        val cols = math.max(1, math.ceil(bb.maxX - bb.minX).toInt)
        val rows = math.max(1, math.ceil(bb.maxY - bb.minY).toInt)
        def mask(r: R) = {
          val m = new Array[Byte](rows * cols)
          r.parts.foreach(p => Raster.rasterize(Geom.translate(p, -bb.minX, -bb.minY), rows, cols, m))
          m
        }
        val ma = mask(a); val mb = mask(b)
        val inter = ma.indices.count(i => ma(i) != 0 && mb(i) != 0)
        val union = ma.indices.count(i => ma(i) != 0 || mb(i) != 0)
        if (union == 0) 0.0 else inter.toDouble / union
      }
    }
    val out = insts.indices.groupBy(comp).values.toSeq.flatMap { idx =>
      val group = idx.sorted.map(insts)
      if (group.size == 1) group
      else {
        val sorted = group.sortBy(_.ids.min)
        val cents = sorted.map(r => Geom.centroid(r.parts.head))
        val work = scala.collection.mutable.ArrayBuffer.from(sorted.indices.filter { b =>
          sorted.indices.count(a => a != b && sorted(b).bbox.contains(cents(a)._1, cents(a)._2) &&
            Geom.containsPoint(sorted(b).parts.head, cents(a)._1, cents(a)._2)) <= 1
        }.map(sorted))
        val merged = scala.collection.mutable.ListBuffer.empty[R]
        while (work.nonEmpty) {
          val a = work.remove(work.size - 1)
          val partner = work.indexWhere(iou(a, _) >= mergeIou)
          if (partner < 0) merged += a
          else { val b = work.remove(partner); work += R(a.ids ++ b.ids, a.scores ++ b.scores, a.parts ++ b.parts) }
        }
        merged
      }
    }
    out.map { r =>
      val s = r.scores.toArray.sorted; val n = s.length
      (r.ids, r.scores, r.parts.map(_.toSeq), r.bbox, if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0)
    }.sortBy(_.toString)
  }

  private def assertMergeLikeReference(crowns: IndexedSeq[Crown], nmsIou: Double, confThr: Double,
                                       mergeIou: Double, what: => String): Unit =
    for (cls <- crowns.map(_.classIdx).distinct.sorted) {
      val got = CrownOps.mergeLocal(CrownOps.nmsLocal(crowns, nmsIou), cls, confThr, mergeIou)
        .map(i => (i.ids, i.scores, i.parts.map(_.toSeq), i.bbox, CrownOps.median(i.scores)))
        .sortBy(_.toString)
      val want = mergeReference(crowns, cls, nmsIou, confThr, mergeIou)
      assert(got === want, s"$what, class $cls, nms $nmsIou, merge $mergeIou")
    }

  private def polyCrown(id: Long, score: Double, poly: Array[Double]): Crown = {
    val bb = BBox.ofPolygon(poly)
    Crown(0L, id, 0L, 0L, 1, score, bb.minX, bb.minY, bb.maxX, bb.maxY, poly)
  }

  test("mergeLocal equals the unindexed merge reference on fixture, 2000-page and fuzzed crowns") {
    for ((key, g) <- ReferenceFixture.crowns.groupBy(c => (c.region, c.classIdx)).toSeq.sortBy(_._1))
      assertMergeLikeReference(g, 0.7, 0.35, 0.1, s"fixture group $key")
    val spark = SparkTestBase.spark
    val pages = CrownOps.synthesize(spark, GeoOps.assignTiles(PagesGen.pages(spark, 2000)),
      GeoOps.TileGrid.Default).collect().toIndexedSeq
    for ((key, g) <- pages.groupBy(c => (c.region, c.classIdx)).toSeq.sortBy(_._1))
      assertMergeLikeReference(g, 0.7, 0.3, 0.5, s"2000 pages group $key")

    // exact duplicates, zero-area rings, NaN bboxes and boxes over 64 cells;
    // NMS at 1.0 suppresses nothing, so duplicates reach the merge
    val rnd = new scala.util.Random(1717)
    for (k <- 0 until 150) {
      val n = 2 + rnd.nextInt(60)
      val cs = scala.collection.mutable.ArrayBuffer.empty[Crown]
      while (cs.size < n) {
        val x = rnd.nextInt(600).toDouble - 300; val y = rnd.nextInt(600).toDouble - 300
        val score = 0.2 + 0.8 * rnd.nextDouble()
        val id = rnd.nextInt(400).toLong
        cs += (rnd.nextInt(10) match {
          case 0 if cs.nonEmpty => cs(rnd.nextInt(cs.size))
          case 1 => polyCrown(id, score, Array(x, y, x + 10, y + 10, x + 20, y + 20))
          case 2 => polyCrown(id, score, Array(x, y, x, y, x, y))
          case 3 =>
            val p = Array(Double.NaN, y, x + 10, y, x + 10, y + 10)
            Crown(0L, id, 0L, 0L, 1, score, Double.NaN, y, x + 10, y + 10, p)
          case 4 =>
            val w = 600.0 + rnd.nextInt(3000)
            polyCrown(id, score, Array(x, y, x + w, y, x + w, y + w, x, y + w))
          case _ => polyCrown(id, score, CrownOps.synthPoly(rnd.nextLong(), x, y))
        })
      }
      for (nmsIou <- Seq(0.7, 1.0); mergeIou <- Seq(0.1, 0.5))
        assertMergeLikeReference(cs.toIndexedSeq, nmsIou, 0.3, mergeIou, s"fuzz case $k")
    }
  }

  test("mergeLocal: one 1e7-px crown holding other centroids equals the reference, in seconds") {
    val rnd = new scala.util.Random(1718)
    val normal = (0 until 2000).map { i =>
      val x = rnd.nextInt(20000).toDouble; val y = rnd.nextInt(20000).toDouble
      polyCrown(i.toLong, 0.4 + 0.5 * rnd.nextDouble(), CrownOps.synthPoly(rnd.nextLong(), x, y))
    }
    val huge = polyCrown(9000L, 0.99, Array(-5e6, -5e6, 5e6, -5e6, 5e6, 5e6, -5e6, 5e6))
    val crowns = (normal :+ huge).toIndexedSeq
    val t0 = System.nanoTime()
    val got = CrownOps.mergeLocal(crowns, 1, 0.3, 0.5)
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "the 1e7-px crown took too long")
    assert(!got.exists(_.ids.contains(9000L)), "the centroid filter drops the crown holding the others")
    assertMergeLikeReference(crowns, 1.0, 0.3, 0.5, "1e7-px crown")
  }
}
