package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.{Geom, Raster}
import graft.geom.Geom.BBox
import graft.grid.TileGridSpec

/** The tiled-inference geometry pipeline, re-expressed Spark-first.
  *
  * Reference semantics being re-created (citations into /root/reference):
  *  - per-tile detection with edge-instance rejection
  *    (postprocess/instanceprocessor.py:80-115; TREE-only, tolerance 5)
  *  - cross-tile set union, per-class greedy bbox NMS
  *    (instanceprocessor.py:344-391, processedinstance.py:523-568)
  *  - dissolve → per-component split (centroid filter + iterative IoU
  *    merge) → median score (scripts/merge.py:34-164,
  *    instanceprocessor.py:200-294)
  *
  * Distribution model: the world is a sequence of independent 2048²
  * REGIONS (one reference "image" each, ~6k pages). All cross-crown
  * operators (NMS, dissolve, split) are region×class-local, so the
  * whole merge phase is one `groupByKey(region).flatMapGroups` — no
  * global shuffle beyond the group-by, and regions scale out linearly
  * to billions on a real cluster (each group is bounded, ~10⁴ crowns).
  * Within a group we use an in-memory spatial hash instead of the
  * reference's rtree, keeping per-group work near-linear.
  *
  * IoU in `split` is computed on 1-px rasterized masks once geometries
  * are merged multipolygons (the reference's polygons originate from
  * pixel masks, so rasterized semantics is the faithful one); the
  * single-convex-pair fast path uses exact clipping.
  */
object CrownOps {

  val EdgeTolerance = 5.0 // instanceprocessor.py:103 edge_tolerance
  val ClassCanopy = 0 // util.py:128-135 Vegetation enum
  val ClassTree = 1

  /** splitmix64 — deterministic per-page hash seed. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic "model": synthesize a convex crown polygon from the
    * page hash, centered at the page's geocode. Identical for every
    * tile that sees the page (replaces Model.predict_batch,
    * models/model.py:250-252, with an oracle-checkable function). */
  def synthPoly(h: Long, x: Double, y: Double): Array[Double] = {
    val nv = 3 + (Math.floorMod(h, 5L)).toInt // 3..7 vertices
    val r = 8.0 + Math.floorMod(h >>> 8, 24L) // radius 8..31
    val phase = Math.floorMod(h >>> 16, 360L) * math.Pi / 180.0
    val pts = new Array[Double](2 * nv)
    var k = 0
    while (k < nv) {
      val frac = Math.floorMod(h >>> (4 * k + 3), 16L) / 15.0
      val rk = r * (0.75 + 0.25 * frac)
      val a = phase + 2 * math.Pi * k / nv
      pts(2 * k) = x + rk * math.cos(a)
      pts(2 * k + 1) = y + rk * math.sin(a)
      k += 1
    }
    // angle-ordered vertices are usually already strictly convex CCW —
    // skip the hull's boxing sort then (same polygon, possibly rotated
    // start vertex); hull guarantees convexity for the rest
    if (Geom.isConvexCCW(pts)) pts else Geom.convexHull(pts)
  }

  def synthScore(h: Long): Double =
    0.05 + 0.9 * (Math.floorMod(h >>> 24, 100000L) / 100000.0)

  def synthClass(h: Long): Int = Math.floorMod(h >>> 40, 2L).toInt

  /** Per-class score vector (reference per-class predictions,
    * instanceprocessor.py:117-118 → processedinstance.py:80-87: score
    * scalar = max of the vector): own class gets [[synthScore]], the
    * other class a deterministic strictly-smaller value. */
  def synthClassScores(h: Long): Array[Double] = {
    val s = synthScore(h)
    val other = s * (Math.floorMod(h >>> 48, 1000L) / 1001.0)
    if (synthClass(h) == 0) Array(s, other) else Array(other, s)
  }

  /** One detected crown (pre-merge). Flat encoder-friendly schema.
    * `classScores` is the per-class score vector when the source has
    * one (reference class_scores); `score` = its max then. */
  final case class Crown(
      region: Long, crownId: Long, pageId: Long, tileId: Long, classIdx: Int,
      score: Double, minX: Double, minY: Double, maxX: Double, maxY: Double,
      poly: Array[Double], classScores: Array[Double] = Array.emptyDoubleArray)

  /** Merged crown (post pipeline): multipolygon parts + score list +
    * the DISSOLVED geometry — `geom` holds the union's rings under
    * even-odd semantics (outer rings + hole rings; a single-member
    * crown's geom is just its polygon) and `perimeter` their total
    * length, mirroring merge.py:196-205 (merged geometry written with
    * area/perimeter properties). */
  final case class MergedCrown(
      region: Long, classIdx: Int, memberIds: Array[Long], score: Double,
      scores: Array[Double], minX: Double, minY: Double, maxX: Double,
      maxY: Double, area: Double, perimeter: Double,
      parts: Array[Array[Double]], geom: Array[Array[Double]])

  /** Per-(page, tile) crown synthesis + tile-edge rejection. The edge
    * filter mirrors instanceprocessor.py:100-109: TREE instances whose
    * tile-local bbox comes within `EdgeTolerance` px of the tile window
    * are dropped (on square tiles the reference's x/y index swap at
    * :107-109 is a no-op, which is why square tiles are used here).
    * Score gets a tiny per-tile epsilon so cross-tile duplicates are
    * distinct, deterministic, and NMS-orderable (the reference's
    * per-tile model outputs differ slightly the same way). */
  def synthesize(spark: SparkSession, assignments: DataFrame,
                 spec: TileGridSpec): Dataset[Crown] = {
    import spark.implicits._
    val tileSize = spec.tileSize.toDouble
    val nTiles = spec.nTiles.toLong // crownId stride (unique per page x tile)
    assignments
      .select(col("region").cast("long"), col("i").cast("long").as("pageId"),
        col("tile_id").cast("long").as("tileId"),
        col("x").cast("double"), col("y").cast("double"),
        col("tile_min_x").cast("double"), col("tile_min_y").cast("double"))
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .mapPartitions { rows =>
        rows.flatMap { case (region, pageId, tileId, x, y, tMinX, tMinY) =>
          val h = mix64(pageId)
          val poly = synthPoly(h, x, y)
          val bb = BBox.ofPolygon(poly)
          val classIdx = synthClass(h)
          // tile-local bbox for the edge filter
          val lx0 = bb.minX - tMinX; val ly0 = bb.minY - tMinY
          val lx1 = bb.maxX - tMinX; val ly1 = bb.maxY - tMinY
          val edgeReject = classIdx == ClassTree && (
            lx0 < EdgeTolerance || ly0 < EdgeTolerance ||
            lx1 > tileSize - EdgeTolerance || ly1 > tileSize - EdgeTolerance)
          if (edgeReject) Iterator.empty
          else {
            // per-tile epsilon on the own-class entry keeps score ==
            // max(classScores) while making cross-tile dupes distinct
            val cs = synthClassScores(h)
            cs(classIdx) += tileId * 1e-7
            Iterator.single(Crown(region, pageId * nTiles + tileId, pageId, tileId,
              classIdx, cs(classIdx),
              bb.minX, bb.minY, bb.maxX, bb.maxY, poly, cs))
          }
        }
      }
  }

  /** Max-detections-per-tile cap (reference W4: Detectron
    * TEST.DETECTIONS_PER_IMAGE = 256, models/instance_segmentation.py:79)
    * — keep the `cap` highest-scoring crowns per (region, tile). */
  def capPerTile(crowns: Dataset[Crown], cap: Int = 256): Dataset[Crown] = {
    import org.apache.spark.sql.expressions.Window
    import crowns.sparkSession.implicits._
    val w = Window.partitionBy(col("region"), col("tileId"))
      .orderBy(col("score").desc, col("crownId"))
    crowns.toDF()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("rn")
      .as[Crown]
  }

  // ---------------------------------------------------------------------
  // Region-local exact pipeline (runs inside flatMapGroups; also the
  // single-node golden implementation for tests).
  // ---------------------------------------------------------------------

  /** In-memory instance during group-local processing. */
  final case class Inst(ids: List[Long], classIdx: Int, scores: List[Double],
                        parts: List[Array[Double]]) {
    lazy val bbox: BBox = parts.map(BBox.ofPolygon(_)).reduce(_ union _)
    def merge(o: Inst): Inst =
      Inst(ids ++ o.ids, classIdx, scores ++ o.scores, parts ++ o.parts)
  }

  def instOf(c: Crown): Inst = Inst(List(c.crownId), c.classIdx, List(c.score), List(c.poly))

  private def instIntersects(a: Inst, b: Inst): Boolean =
    a.bbox.intersects(b.bbox) &&
      a.parts.exists(pa => b.parts.exists(pb => Geom.intersects(pa, pb)))

  /** IoU between possibly-merged instances: exact convex clip for the
    * single-part pair; 1-px rasterized mask IoU otherwise (pixel
    * semantics — the reference's source geometry is masks). */
  def instIoU(a: Inst, b: Inst): Double = instIoUCached(a, b, null)

  /** One-slot memo of instance `a`'s rasterized mask, keyed by the
    * pair-union bbox alignment (mask pixels sample at centers relative
    * to bb.min, so the mask is only reusable at the EXACT same
    * alignment — which is the common case in splitLocal's partner
    * scan, where the accreted blob's bbox contains each small
    * candidate's). Pure memoization: the cached bytes are identical to
    * a fresh rasterization, so IoU values — and merge decisions — are
    * unchanged. */
  private final class MaskCache {
    var keyX: Double = Double.NaN
    var keyY: Double = Double.NaN
    var rows: Int = -1
    var cols: Int = -1
    var mask: Array[Byte] = null
  }

  private def instIoUCached(a: Inst, b: Inst, aCache: MaskCache): Double = {
    if (!a.bbox.intersects(b.bbox)) return 0.0
    if (a.parts.size == 1 && b.parts.size == 1)
      return Geom.iouConvex(a.parts.head, b.parts.head)
    val bb = a.bbox.union(b.bbox)
    val cols = math.max(1, math.ceil(bb.maxX - bb.minX).toInt)
    val rows = math.max(1, math.ceil(bb.maxY - bb.minY).toInt)
    // each part is one ring: the bbox-row-bounded max-fill writes the
    // identical pixels as rasterize() + implicit OR (see
    // Raster.rasterizeMaxInto), without scanning the rows the part
    // cannot touch — the dominant cost when a small part sits in a
    // large union bbox (dense dissolve components)
    val ma =
      if (aCache != null && aCache.keyX == bb.minX && aCache.keyY == bb.minY &&
          aCache.rows == rows && aCache.cols == cols) aCache.mask
      else {
        val m = new Array[Byte](rows * cols)
        a.parts.foreach(p =>
          Raster.rasterizeMaxInto(Geom.translate(p, -bb.minX, -bb.minY), rows, cols, m, 1))
        if (aCache != null) {
          aCache.keyX = bb.minX; aCache.keyY = bb.minY
          aCache.rows = rows; aCache.cols = cols; aCache.mask = m
        }
        m
      }
    val mb = new Array[Byte](rows * cols)
    b.parts.foreach(p =>
      Raster.rasterizeMaxInto(Geom.translate(p, -bb.minX, -bb.minY), rows, cols, mb, 1))
    var inter = 0L; var union = 0L
    var i = 0
    while (i < ma.length) {
      if (ma(i) != 0 && mb(i) != 0) inter += 1
      if (ma(i) != 0 || mb(i) != 0) union += 1
      i += 1
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Greedy bbox NMS, torchvision contract (processedinstance.py:523-568):
    * consider score-descending (ties → lower crownId), suppress when
    * bbox IoU with an already-kept box exceeds `iouThr` (strict >). A
    * spatial hash over kept boxes keeps it near-linear. Returns kept
    * crowns in input order (indices like the reference). */
  def nmsLocal(crowns: IndexedSeq[Crown], iouThr: Double): IndexedSeq[Crown] = {
    if (crowns.isEmpty) return crowns
    val order = crowns.indices.sortBy(i => (-crowns(i).score, crowns(i).crownId))
    val cellSize = 64.0
    val keptByCell = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    def cellsOf(c: Crown): Iterator[Long] = {
      val cx0 = math.floor(c.minX / cellSize).toLong
      val cx1 = math.floor(c.maxX / cellSize).toLong
      val cy0 = math.floor(c.minY / cellSize).toLong
      val cy1 = math.floor(c.maxY / cellSize).toLong
      for (cy <- (cy0 to cy1).iterator; cx <- cx0 to cx1) yield cy * 1000003L + cx
    }
    val kept = new scala.collection.mutable.BitSet(crowns.size)
    order.foreach { i =>
      val c = crowns(i)
      val bb = BBox(c.minX, c.minY, c.maxX, c.maxY)
      var suppressed = false
      val it = cellsOf(c)
      while (!suppressed && it.hasNext) {
        val lst = keptByCell.get(it.next())
        if (lst != null) {
          var j = 0
          while (!suppressed && j < lst.size()) {
            val k = crowns(lst.get(j))
            if (bb.iou(BBox(k.minX, k.minY, k.maxX, k.maxY)) > iouThr) suppressed = true
            j += 1
          }
        }
      }
      if (!suppressed) {
        kept += i
        cellsOf(c).foreach { cell =>
          var lst = keptByCell.get(cell)
          if (lst == null) { lst = new java.util.ArrayList[Int](); keptByCell.put(cell, lst) }
          lst.add(i)
        }
      }
    }
    crowns.indices.filter(kept).map(crowns)
  }

  /** Connected components of the polygon-intersects graph = the
    * dissolve grouping (merge.py:85-122: unary_union components ↔
    * transitive closure of `intersects`). Spatial-hash candidate
    * pruning replaces the rtree. */
  def dissolveLocal(insts: IndexedSeq[Inst]): Iterator[IndexedSeq[Inst]] = {
    val n = insts.size
    if (n == 0) return Iterator.empty
    val uf = new Geom.UnionFind(n)
    val cellSize = 64.0
    val byCell = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    insts.indices.foreach { i =>
      val bb = insts(i).bbox
      val cx0 = math.floor(bb.minX / cellSize).toLong
      val cx1 = math.floor(bb.maxX / cellSize).toLong
      val cy0 = math.floor(bb.minY / cellSize).toLong
      val cy1 = math.floor(bb.maxY / cellSize).toLong
      for (cy <- cy0 to cy1; cx <- cx0 to cx1) {
        val key = cy * 1000003L + cx
        var lst = byCell.get(key)
        if (lst == null) { lst = new java.util.ArrayList[Int](); byCell.put(key, lst) }
        // union with intersecting prior members of this bucket
        var j = 0
        while (j < lst.size()) {
          val o = lst.get(j)
          if (uf.find(o) != uf.find(i) && instIntersects(insts(o), insts(i))) uf.union(o, i)
          j += 1
        }
        lst.add(i)
      }
    }
    val groups = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Inst]]()
    insts.indices.foreach { i =>
      val root = uf.find(i)
      var g = groups.get(root)
      if (g == null) { g = new scala.collection.mutable.ArrayBuffer[Inst](); groups.put(root, g) }
      g += insts(i)
    }
    import scala.jdk.CollectionConverters._
    groups.values().asScala.iterator.map(_.toIndexedSeq)
  }

  /** Centroid filter (merge.py:167-192 / instanceprocessor.py:203-238):
    * drop instances containing more than `maxOverlaps` other instances'
    * centroids. Instances here are raw (single-part). */
  def filterCentroids(group: IndexedSeq[Inst], maxOverlaps: Int = 1): IndexedSeq[Inst] = {
    val n = group.size
    val cents = group.map(g => Geom.centroid(g.parts.head))
    val counts = new Array[Int](n)
    // spatial-hash the centroids so each polygon only tests centroids in
    // the cells its bbox covers — O(n·local) instead of O(n²) (dense
    // dissolve components reach thousands of members).
    val cellSize = 64.0
    val byCell = new java.util.HashMap[Long, java.util.ArrayList[Int]]()
    var ai = 0
    while (ai < n) {
      val key = math.floor(cents(ai)._2 / cellSize).toLong * 1000003L +
        math.floor(cents(ai)._1 / cellSize).toLong
      var lst = byCell.get(key)
      if (lst == null) { lst = new java.util.ArrayList[Int](); byCell.put(key, lst) }
      lst.add(ai)
      ai += 1
    }
    var bi = 0
    while (bi < n) {
      val b = group(bi)
      val bb = b.bbox
      var cy = math.floor(bb.minY / cellSize).toLong
      while (cy <= math.floor(bb.maxY / cellSize).toLong) {
        var cx = math.floor(bb.minX / cellSize).toLong
        while (cx <= math.floor(bb.maxX / cellSize).toLong) {
          val lst = byCell.get(cy * 1000003L + cx)
          if (lst != null) {
            var k = 0
            while (k < lst.size()) {
              val ai2 = lst.get(k)
              if (ai2 != bi &&
                  bb.contains(cents(ai2)._1, cents(ai2)._2) &&
                  Geom.containsPoint(b.parts.head, cents(ai2)._1, cents(ai2)._2))
                counts(bi) += 1
              k += 1
            }
          }
          cx += 1
        }
        cy += 1
      }
      bi += 1
    }
    group.indices.filter(counts(_) <= maxOverlaps).map(group)
  }

  /** Iterative pop-merge (merge.py:34-82): pop the LAST instance; if it
    * overlaps any remaining instance with IoU >= thr, merge with the
    * FIRST such partner and push the union back; else emit. Members are
    * pre-sorted by crownId so the list semantics are deterministic. */
  def splitLocal(group0: IndexedSeq[Inst], iouThr: Double): List[Inst] = {
    val work = scala.collection.mutable.ArrayBuffer.from(
      filterCentroids(group0.sortBy(_.ids.min)))
    val merged = scala.collection.mutable.ListBuffer.empty[Inst]
    while (work.nonEmpty) {
      val a = work.remove(work.size - 1)
      var partner = -1
      var idx = 0
      // `a` is fixed for the whole partner scan: memoize its mask per
      // union-bbox alignment (hit whenever a's bbox contains the
      // candidate's — the dense-component common case). Same IoU
      // values, same first-partner pick.
      val aMask = new MaskCache
      while (partner < 0 && idx < work.size) {
        if (instIoUCached(a, work(idx), aMask) >= iouThr) partner = idx
        idx += 1
      }
      if (partner < 0) merged += a
      else {
        val b = work.remove(partner)
        work += a.merge(b)
      }
    }
    merged.toList
  }

  /** Median with numpy semantics (mean of middle two for even n). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Full region-local merge for one class (merge.py:125-164): filter by
    * confidence (strict >), dissolve, pass singletons through, split
    * multi-groups, median-collapse scores. Instances with a NaN bbox
    * are skipped before association, mirroring the reference's guard
    * (instanceprocessor.py:191, merge.py:112 `np.isnan(poly.bounds)`). */
  def mergeLocal(crowns: IndexedSeq[Crown], classIdx: Int,
                 confThr: Double, iouThr: Double): List[Inst] = {
    val insts = crowns.iterator
      .filter(c => c.classIdx == classIdx && c.score > confThr &&
        !(c.minX.isNaN || c.minY.isNaN || c.maxX.isNaN || c.maxY.isNaN))
      .map(instOf).toIndexedSeq
    dissolveLocal(insts).flatMap { group =>
      if (group.size == 1) group
      else splitLocal(group, iouThr)
    }.toList
  }

  // ---------------------------------------------------------------------
  // Distributed wrappers
  // ---------------------------------------------------------------------

  /** Distributed per-class NMS: regions are independent (each is one
    * reference image), so grouping by region gives EXACT global-NMS
    * semantics per image with one shuffle. */
  def nms(spark: SparkSession, crowns: Dataset[Crown], iouThr: Double): Dataset[Crown] = {
    import spark.implicits._
    crowns.groupByKey(c => (c.region, c.classIdx))
      .flatMapGroups((_: (Long, Int), it: Iterator[Crown]) =>
        nmsLocal(it.toIndexedSeq, iouThr).iterator)
  }

  /** The columns NMS + merge actually read — shuffled INSTEAD of the
    * full Crown row (drops pageId, tileId and the classScores array:
    * ~25% of the exchanged bytes; guide §2.3 "project before the
    * exchange", which the typed groupByKey otherwise defeats). */
  private[operators] final case class SlimCrown(
      region: Long, crownId: Long, classIdx: Int, score: Double,
      minX: Double, minY: Double, maxX: Double, maxY: Double,
      poly: Array[Double])

  private def reinflate(s: SlimCrown): Crown =
    Crown(s.region, s.crownId, 0L, 0L, s.classIdx, s.score,
      s.minX, s.minY, s.maxX, s.maxY, s.poly)

  /** Fused NMS + merge in ONE shuffle: both operators group on the same
    * (region, class) key, so running them back-to-back inside a single
    * flatMapGroups halves the pipeline's shuffles (the dominant cost at
    * scale). Semantics identical to nms() followed by merge().
    *
    * `emitGeom = false` skips the dissolved-geometry border trace (the
    * dominant per-instance CPU cost — rasterize is still paid for the
    * exact pixel `area`, but hole-aware ring tracing is not) and leaves
    * `geom` empty / `perimeter` 0.0. Use it for count/stats consumers
    * that never read the rings; fixture serialization keeps the
    * default. */
  def nmsMerge(spark: SparkSession, crowns: Dataset[Crown], nmsIou: Double,
               confThr: Double, mergeIou: Double,
               emitGeom: Boolean = true): Dataset[MergedCrown] = {
    import spark.implicits._
    // MergedCrown reads nothing from pageId/tileId/classScores, and
    // nmsLocal/mergeLocal read only (crownId, classIdx, score, bbox,
    // poly) — so the group exchange ships SlimCrown and the group-side
    // Crowns are reinflated with zeroed pass-through fields (identical
    // NMS order, merge decisions and output rows)
    // confidence pre-filter BEFORE the exchange: mergeLocal drops
    // score <= confThr instances anyway, and in descending-score NMS a
    // crown can only be suppressed by a HIGHER-scoring kept crown — so
    // sub-threshold crowns never influence which above-threshold
    // crowns survive. Filtering them here (same strict > predicate)
    // removes ~28% of the shuffled rows and of the NMS work with
    // provably identical merged output. nms() standalone keeps the
    // full input (its contract returns sub-threshold kept crowns).
    crowns
      .filter(c => c.score > confThr)
      .map(c => SlimCrown(c.region, c.crownId, c.classIdx, c.score,
        c.minX, c.minY, c.maxX, c.maxY, c.poly))
      .groupByKey(c => (c.region, c.classIdx))
      .flatMapGroups((key: (Long, Int), it: Iterator[SlimCrown]) => {
        val (region, classIdx) = key
        val kept = nmsLocal(it.map(reinflate).toIndexedSeq, nmsIou)
        mergeLocal(kept, classIdx, confThr, mergeIou)
          .iterator.map(toMerged(region, classIdx, _, emitGeom))
      })
  }

  private def toMerged(region: Long, classIdx: Int, inst: Inst,
                       emitGeom: Boolean): MergedCrown = {
    val bb = inst.bbox
    if (inst.parts.size == 1) {
      val p = inst.parts.head
      MergedCrown(region, classIdx, inst.ids.sorted.toArray,
        median(inst.scores), inst.scores.toArray,
        bb.minX, bb.minY, bb.maxX, bb.maxY,
        Geom.area(p), if (emitGeom) Geom.perimeter(p) else 0.0,
        inst.parts.toArray,
        if (emitGeom) Array(p) else Array.empty[Array[Double]])
    } else {
      // union mask over the floor-snapped bbox (masks are the source
      // geometry): area = pixel count, dissolved geometry = hole-aware
      // traced rings shifted back to global coords (merge.py:196-205)
      val ox = math.floor(bb.minX); val oy = math.floor(bb.minY)
      val cols = math.max(1, math.ceil(bb.maxX - ox).toInt)
      val rows = math.max(1, math.ceil(bb.maxY - oy).toInt)
      val mask = new Array[Byte](rows * cols)
      // row-bounded per-part fill — identical pixels to rasterize()
      inst.parts.foreach(p =>
        Raster.rasterizeMaxInto(Geom.translate(p, -ox, -oy), rows, cols, mask, 1))
      var area = 0L
      var i = 0
      while (i < mask.length) { area += mask(i); i += 1 }
      val rings =
        if (emitGeom) Raster.vectorizeWithHoles(mask, rows, cols).flatten
          .map(Geom.translate(_, ox, oy)).toArray
        else Array.empty[Array[Double]]
      MergedCrown(region, classIdx, inst.ids.sorted.toArray,
        median(inst.scores), inst.scores.toArray,
        bb.minX, bb.minY, bb.maxX, bb.maxY,
        area.toDouble, rings.map(Geom.perimeter).sum, inst.parts.toArray, rings)
    }
  }

  /** Distributed merge: NMS → dissolve → split → median, per region and
    * class, one shuffle total. `emitGeom` as in [[nmsMerge]]. */
  def merge(spark: SparkSession, crowns: Dataset[Crown],
            confThr: Double, iouThr: Double,
            emitGeom: Boolean = true): Dataset[MergedCrown] = {
    import spark.implicits._
    crowns.groupByKey(c => (c.region, c.classIdx))
      .flatMapGroups((key: (Long, Int), it: Iterator[Crown]) => {
        val (region, classIdx) = key
        mergeLocal(it.toIndexedSeq, classIdx, confThr, iouThr)
          .iterator.map(toMerged(region, classIdx, _, emitGeom))
      })
  }

  /** Crown-area histogram report aggregate (report.py:118-129): per
    * (region, class_idx) group, 75 equal-width bins over the range
    * [lo, quantile(areas, 0.9)] — the reference's
    * `plt.hist(areas, bins=75, range=(0.5, np.quantile(areas, 0.9)))`.
    * Matplotlib semantics replicated exactly: values outside the range
    * are excluded, the LAST bin is right-inclusive (a == q90 lands in
    * bin bins-1), and a degenerate range (q90 <= lo) drops everything
    * into bin 0. Input must carry (region, class_idx, area_micro
    * BIGINT) — integer micro-m² so both engines bin identical values.
    *
    * 100-TB shape: the q90 comes from the sort-based
    * [[Quantiles.exactPercentiles]] (one window sort; no
    * buffer-all-values aggregation, bit-identical to the built-in
    * `percentile`), its tiny result (regions × classes rows)
    * broadcast-joins back, then a narrow bin projection + count. */
  def areaHistogram(areas: DataFrame, bins: Int = 75,
                    loMicro: Long = 500000L): DataFrame = {
    val hi = Quantiles.exactPercentiles(areas, Seq("region", "class_idx"),
        col("area_micro"), Seq(0.9))
      .select(col("region"), col("class_idx"), col("q0").as("hi"))
    areas.join(broadcast(hi), Seq("region", "class_idx"))
      .where(col("area_micro") >= loMicro && col("area_micro") <= col("hi"))
      .withColumn("bin", histBin(bins, loMicro))
      .groupBy(col("region"), col("class_idx"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The matplotlib bin index for a row given its group's `hi` column
    * (shared by the grouped and global histogram variants). */
  private def histBin(bins: Int, loMicro: Long) =
    when(col("hi") > lit(loMicro.toDouble),
      least(floor((col("area_micro") - lit(loMicro)) * lit(bins.toDouble) /
        (col("hi") - lit(loMicro.toDouble))).cast("double"), lit((bins - 1).toDouble)))
      .otherwise(lit(0.0)).cast("long")

  /** ONE histogram over ALL rows — what report.py:122-129 actually
    * draws (a single plt.hist over every tree area, one global q90).
    * Same matplotlib bin semantics as [[areaHistogram]], but the q90
    * comes from [[Quantiles.globalPercentiles]] — the range-partitioned
    * global sort — because this is the single-giant-group shape where
    * the window variant would serialize into one task at 100 TB. The
    * two q90s bit-match (property-tested in Quantiles), so the global
    * histogram equals the grouped one run with constant keys. Output
    * (bin, cnt). */
  def areaHistogramGlobal(areas: DataFrame, bins: Int = 75,
                          loMicro: Long = 500000L): DataFrame = {
    val hi = Quantiles.globalPercentiles(areas, col("area_micro"), Seq(0.9))
      .select(col("q0").as("hi"))
    areas.crossJoin(broadcast(hi)) // 1-row broadcast, not a real cross
      .where(col("area_micro") >= loMicro && col("area_micro") <= col("hi"))
      .withColumn("bin", histBin(bins, loMicro))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
  }
}
