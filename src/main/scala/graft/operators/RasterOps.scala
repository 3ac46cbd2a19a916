package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.{Geom, Raster}
import graft.grid.TileGridSpec

/** The semantic (raster) path: per-tile confidence rasters → inner-crop
  * → non-overlapping mosaic → coverage stats / thresholding /
  * vectorization / confusion metrics.
  *
  * Reference semantics (citations into /root/reference):
  *  - confidence tile = uint8 class confidence ×255
  *    (cache/semantic.py:257-286; background band dropped)
  *  - inner-crop by tile_overlap/2 with edge exceptions — left/bottom
  *    pads drop only at extent edge, right/top always crop ≥1 px (the
  *    reference's `pred[:, b:-t, l:-r]` negative-slice quirk)
  *    (postprocess/semanticprocessor.py:62-86)
  *  - mosaic into non-overlapping cache tiles (cache/semantic.py:189-255)
  *  - coverage = nonzero/valid (result/processedresult.py:109-118)
  *  - confusion-matrix metrics accumulated tile-wise (evaluate.py:107-197)
  *
  * Rasters ride as one row per (region, tile, class): tile-as-row
  * columnar blocks. `gsd` (pixels per raster cell, reference
  * `target_gsd`) scales resolution; kernels run in flatMapGroups —
  * partition-local, no shuffle beyond the tile group-by.
  */
object RasterOps {

  /** Default raster resolution: world units per raster cell. */
  val DefaultGsd = 8

  /** One confidence raster tile (row-major uint8, nodata = 0). */
  final case class ConfTile(region: Long, tileId: Long, classIdx: Int,
                            minX: Long, minY: Long, rows: Int, cols: Int,
                            gsd: Int, data: Array[Byte])

  /** Largest raster resolution ≤ `want` that divides the spec's tile
    * size and every grid edge — keeps tile rasters and mosaic paste
    * offsets exactly on the pixel grid for ARBITRARY specs (e.g. the
    * GSD-scaled grids of TileGridSpec.atGsd, whose 1463-px windows and
    * 585-px origins no fixed gsd divides). The golden Default spec
    * returns `want` unchanged; divisors of the default want=8 also
    * divide the 1024 cache-tile size, so mosaic stays aligned too. */
  def alignedGsd(spec: TileGridSpec, want: Int, alignTo: Long = 1024): Int = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val g0 = (spec.xEdges.iterator ++ spec.yEdges.iterator)
      .foldLeft(spec.tileSize)((g, e) => gcd(g, e))
    // the TRUE maximum divisor <= want of BOTH the grid gcd AND the
    // downstream mosaic's cache-tile size (`alignTo` = mosaic's
    // cacheTileSize): gcd(want, g0) was always valid but needlessly
    // fine (grid gcd 12, want 8 → 4 where 6 also divides the grid),
    // while the unconstrained max divisor of g0 could FAIL to divide
    // the 1024 cache tile (g0 300, want 8 → 6 ∤ 1024) and corrupt
    // mosaic pastes. O(want) scan; want is a small pixel size.
    val both = gcd(math.max(1L, g0), alignTo)
    var d = math.min(want.toLong, math.max(1L, both))
    while (d > 1 && both % d != 0) d -= 1
    math.max(1L, d).toInt
  }

  /** Rasterize each tile's crowns into a class-confidence tile:
    * crown pixels get round(score×255), max-merged (paste mode 1) —
    * the deterministic analogue of the semantic model's per-tile
    * confidence output. */
  def confidenceTiles(spark: SparkSession, crowns: Dataset[CrownOps.Crown],
                      spec: TileGridSpec, gsd: Int = 8): Dataset[ConfTile] = {
    import spark.implicits._
    // an unaligned gsd would silently truncate the last tileSize % gsd
    // source pixels of every window and shift mosaic pastes by up to
    // gsd-1 world units — fail loud instead (callers: alignedGsd)
    require(spec.tileSize % gsd == 0 &&
      spec.xEdges.forall(_ % gsd == 0) && spec.yEdges.forall(_ % gsd == 0),
      s"gsd=$gsd must divide the spec's tile size and every grid edge " +
        s"(tile=${spec.tileSize}); pick RasterOps.alignedGsd(spec, want)")
    val cols = (spec.tileSize / gsd).toInt
    crowns.groupByKey(c => (c.region, c.tileId, c.classIdx))
      .flatMapGroups { (key: (Long, Long, Int), it: Iterator[CrownOps.Crown]) =>
        val (region, tileId, classIdx) = key
        val tile = spec.tile(tileId)
        val data = new Array[Byte](cols * cols)
        var any = false
        it.foreach { c =>
          val v = math.min(255, math.round(c.score * 255)).toByte
          // crown polygon in tile-local raster coords; bbox-windowed
          // scanline max-blend — pixel-identical to rasterize + full
          // blend, but scans the crown's few rows instead of the whole
          // 128² tile per crown (see Raster.rasterizeMaxInto)
          val local = Geom.affine(c.poly, 1.0 / gsd, 0, 0, 1.0 / gsd,
            -tile.minX.toDouble / gsd, -tile.minY.toDouble / gsd)
          Raster.rasterizeMaxInto(local, cols, cols, data, v)
          any = true
        }
        if (!any) Iterator.empty
        else Iterator.single(ConfTile(region, tileId, classIdx,
          tile.minX, tile.minY, cols, cols, gsd, data))
      }
  }

  /** Empty-tile skip by mean pixel (P3, model.py:162-176 `skip_empty`):
    * drop tiles whose mean is ≤ `lo` (all-black) or ≥ `hi` (all-white)
    * before the expensive downstream stages — the reference runs this
    * per batch ahead of inference. Narrow partition-local filter. */
  def skipEmptyTiles(tiles: Dataset[ConfTile], lo: Double = 1.0,
                     hi: Double = 254.0): Dataset[ConfTile] =
    tiles.filter { t =>
      if (t.data.isEmpty) false
      else {
        var s = 0L
        var i = 0
        while (i < t.data.length) { s += (t.data(i) & 0xff); i += 1 }
        val m = s.toDouble / t.data.length
        m > lo && m < hi
      }
    }

  /** Inner-crop a confidence tile by overlap/2 with the reference's edge
    * rules (semanticprocessor.py:62-86): left/bottom pad drops at the
    * extent origin; right/top always crop at least 1 px. */
  def innerCrop(t: ConfTile, spec: TileGridSpec): ConfTile = {
    val pad = (spec.overlap / 2 / t.gsd).toInt
    val maxX = t.minX + t.cols.toLong * t.gsd
    val maxY = t.minY + t.rows.toLong * t.gsd
    val padLeft = if (t.minX != 0) pad else 0
    val padBottom = if (t.minY != 0) pad else 0
    val padRight = if (maxX <= spec.width) math.max(pad, 1) else 1
    val padTop = if (maxY <= spec.height) math.max(pad, 1) else 1
    val nc = t.cols - padLeft - padRight
    val nr = t.rows - padBottom - padTop
    val out = new Array[Byte](nr * nc)
    var r = 0
    while (r < nr) {
      System.arraycopy(t.data, (r + padBottom) * t.cols + padLeft, out, r * nc, nc)
      r += 1
    }
    t.copy(minX = t.minX + padLeft.toLong * t.gsd, minY = t.minY + padBottom.toLong * t.gsd,
      rows = nr, cols = nc, data = out)
  }

  /** Mosaic inner-cropped tiles into the non-overlapping output grid
    * (`cacheTileSize` world units per output tile): each input tile is
    * split across the output tiles it touches and max-pasted. One
    * shuffle on (region, cache tile). */
  def mosaic(spark: SparkSession, tiles: Dataset[ConfTile], spec: TileGridSpec,
             cacheTileSize: Long = 1024): Dataset[ConfTile] = {
    import spark.implicits._
    val cropped = tiles.map(innerCrop(_, spec))
    val nCx = math.ceil(spec.width.toDouble / cacheTileSize).toInt
    cropped
      .flatMap { t =>
        // this operator assumes the non-negative inference grid — a
        // tile at negative world coords (e.g. a warped tile) would be
        // truncated into cache cell 0 by the divisions below; those
        // inputs belong on [[reassemble]]
        require(t.minX >= 0 && t.minY >= 0,
          s"mosaic tile at negative origin (${t.minX}, ${t.minY}) — use reassemble for warped tiles")
        // output tiles overlapped by this (cropped) tile
        val maxX = t.minX + t.cols.toLong * t.gsd
        val maxY = t.minY + t.rows.toLong * t.gsd
        for {
          cy <- (t.minY / cacheTileSize) to ((maxY - 1) / cacheTileSize)
          cx <- (t.minX / cacheTileSize) to ((maxX - 1) / cacheTileSize)
        } yield ((t.region, t.classIdx, cy * nCx + cx), t)
      }
      .groupByKey(_._1)
      .mapGroups { (key: (Long, Int, Long), it: Iterator[((Long, Int, Long), ConfTile)]) =>
        val (region, classIdx, cacheId) = key
        val first = it.next()._2
        val gsd = first.gsd
        // a gsd that doesn't divide the cache tile would truncate
        // cc = cacheTileSize/gsd (seam pixels dropped) and shift paste
        // offsets — fail loud (alignedGsd's alignTo prevents this)
        require(cacheTileSize % gsd == 0,
          s"gsd=$gsd does not divide cacheTileSize=$cacheTileSize — " +
            "pick RasterOps.alignedGsd(spec, want, cacheTileSize)")
        // mixing resolutions in one mosaic group would silently
        // mis-paste pixels (offsets below divide by the FIRST tile's
        // gsd) — upstream confidenceTiles guarantees uniformity, but a
        // caller feeding hand-built tiles fails loud instead
        val cc = (cacheTileSize / gsd).toInt
        val baseX = (cacheId % nCx) * cacheTileSize
        val baseY = (cacheId / nCx) * cacheTileSize
        val canvas = new Array[Byte](cc * cc)
        (Iterator.single(first) ++ it.map(_._2)).foreach { t =>
          require(t.gsd == gsd,
            s"mosaic group (region=$region class=$classIdx cache=$cacheId) mixes " +
              s"gsd ${t.gsd} with $gsd — resample tiles to one resolution first")
          Raster.paste(canvas, cc, cc, t.data, t.rows, t.cols,
            ((t.minY - baseY) / gsd).toInt, ((t.minX - baseX) / gsd).toInt, mode = 1)
        }
        ConfTile(region, cacheId, classIdx, baseX, baseY, cc, cc, gsd, canvas)
      }
  }

  /** Distributed raster warp (P8, util.py:138-170): apply a WORLD-
    * coordinate affine `dst = A · src` to every tile — each tile warps
    * independently into its transformed bounding window (snapped to
    * the gsd grid so downstream [[mosaic]] paste offsets stay
    * integer), nearest-neighbor by default (the reference's mask
    * setting; bilinear for imagery-like data). Narrow per-tile pass —
    * no shuffle; cross-tile reassembly afterwards is [[reassemble]]
    * (paste-only regroup — NOT [[mosaic]], whose innerCrop and
    * non-negative grid assumptions are specific to the overlapping
    * inference grid). The affine covers the reference's
    * `calculate_default_transform`-shaped reprojects; a non-affine CRS
    * pair plugs into `Raster.warpWith` directly. */
  def warpTiles(spark: SparkSession, tiles: Dataset[ConfTile],
                a: Double, b: Double, tx: Double,
                d: Double, e: Double, ty: Double,
                bilinear: Boolean = false): Dataset[ConfTile] = {
    import spark.implicits._
    val det = a * e - b * d
    require(math.abs(det) > 1e-12, s"non-invertible affine (det=$det)")
    val (ia, ib, id, ie) = (e / det, -b / det, -d / det, a / det)
    tiles.map { t =>
      val maxX = t.minX + t.cols.toLong * t.gsd
      val maxY = t.minY + t.rows.toLong * t.gsd
      val corners = Seq(
        (t.minX.toDouble, t.minY.toDouble), (maxX.toDouble, t.minY.toDouble),
        (t.minX.toDouble, maxY.toDouble), (maxX.toDouble, maxY.toDouble))
        .map { case (x, y) => (a * x + b * y + tx, d * x + e * y + ty) }
      val gx0 = math.floor(corners.map(_._1).min / t.gsd).toLong * t.gsd
      val gy0 = math.floor(corners.map(_._2).min / t.gsd).toLong * t.gsd
      val gx1 = math.ceil(corners.map(_._1).max / t.gsd).toLong * t.gsd
      val gy1 = math.ceil(corners.map(_._2).max / t.gsd).toLong * t.gsd
      val dstCols = ((gx1 - gx0) / t.gsd).toInt
      val dstRows = ((gy1 - gy0) / t.gsd).toInt
      // compose (dst pixel → dst world → A⁻¹ → src world → src pixel)
      // into ONE pixel-space inverse affine: the allocation-free
      // kernel runs it with no per-pixel closure or tuple
      val g = t.gsd.toDouble
      val pia = ia; val pib = ib
      val pitx = (ia * (gx0 - tx) + ib * (gy0 - ty) - t.minX) / g
      val pid = id; val pie = ie
      val pity = (id * (gx0 - tx) + ie * (gy0 - ty) - t.minY) / g
      val data = graft.geom.Raster.warpInverseAffine(
        t.data, t.rows, t.cols, dstRows, dstCols,
        pia, pib, pitx, pid, pie, pity, bilinear = bilinear)
      ConfTile(t.region, t.tileId, t.classIdx, gx0, gy0, dstRows, dstCols, t.gsd, data)
    }
  }

  /** Paste-only regroup of (possibly warped) tiles onto the
    * `cacheTileSize` output grid — [[mosaic]] without its
    * overlapping-grid innerCrop, and with floor semantics so tiles at
    * NEGATIVE world coordinates land in the right (negative-indexed)
    * cache cell instead of being truncated toward cell 0. Cache ids
    * are (cy·2^21 + cx) over floor-divided signed cell coords. */
  def reassemble(spark: SparkSession, tiles: Dataset[ConfTile],
                 cacheTileSize: Long = 1024): Dataset[ConfTile] = {
    import spark.implicits._
    tiles
      .flatMap { t =>
        require(cacheTileSize % t.gsd == 0,
          s"gsd=${t.gsd} does not divide cacheTileSize=$cacheTileSize")
        val maxX = t.minX + t.cols.toLong * t.gsd
        val maxY = t.minY + t.rows.toLong * t.gsd
        for {
          cy <- Math.floorDiv(t.minY, cacheTileSize) to Math.floorDiv(maxY - 1, cacheTileSize)
          cx <- Math.floorDiv(t.minX, cacheTileSize) to Math.floorDiv(maxX - 1, cacheTileSize)
        } yield ((t.region, t.classIdx, cy, cx), t)
      }
      .groupByKey(_._1)
      .mapGroups { (key: (Long, Int, Long, Long), it: Iterator[((Long, Int, Long, Long), ConfTile)]) =>
        val (region, classIdx, cy, cx) = key
        // bijective signed packing for the output tile id (|cx| < 2^21)
        require(math.abs(cx) < (1L << 21), s"cache column $cx out of id range")
        val cacheId = cy * (1L << 22) + (cx + (1L << 21))
        val first = it.next()._2
        val gsd = first.gsd
        val cc = (cacheTileSize / gsd).toInt
        val baseX = cx * cacheTileSize
        val baseY = cy * cacheTileSize
        val canvas = new Array[Byte](cc * cc)
        (Iterator.single(first) ++ it.map(_._2)).foreach { t =>
          require(t.gsd == gsd, s"reassemble group mixes gsd ${t.gsd} with $gsd")
          Raster.paste(canvas, cc, cc, t.data, t.rows, t.cols,
            Math.floorDiv(t.minY - baseY, gsd).toInt,
            Math.floorDiv(t.minX - baseX, gsd).toInt, mode = 1)
        }
        ConfTile(region, cacheId, classIdx, baseX, baseY, cc, cc, gsd, canvas)
      }
  }

  /** Coverage statistics (A5): per (region, class), fraction of pixels
    * with confidence > thr (in 255 units), in ppm for integer-exact
    * comparisons. */
  def coverage(spark: SparkSession, mosaicTiles: Dataset[ConfTile],
               thr255: Int): DataFrame = {
    import spark.implicits._
    mosaicTiles
      .map { t =>
        var nz = 0L
        var i = 0
        while (i < t.data.length) { if ((t.data(i) & 0xff) > thr255) nz += 1; i += 1 }
        (t.region, t.classIdx, nz, t.data.length.toLong)
      }
      .toDF("region", "class_idx", "nz", "total")
      .groupBy(col("region"), col("class_idx"))
      .agg((floor(lit(1000000) * sum(col("nz")) / sum(col("total")))).cast("long").as("cover_ppm"),
        sum(col("nz")).as("covered_px"), sum(col("total")).as("total_px"))
  }

  /** Binarize + vectorize a mosaic (P4 + R2): polygons of connected
    * regions above threshold, in world coords. Hole-aware: `poly` is
    * the component's outer ring, `n_holes` its hole-ring count, and
    * `area` the even-odd (hole-subtracted) area — ring-traced areas are
    * pixel-exact, so outer minus holes equals the pixel count × gsd². */
  def vectorizeMosaic(spark: SparkSession, mosaicTiles: Dataset[ConfTile],
                      thr255: Int): DataFrame = {
    import spark.implicits._
    mosaicTiles.flatMap { t =>
      val bin = new Array[Byte](t.data.length)
      var i = 0
      while (i < bin.length) { if ((t.data(i) & 0xff) > thr255) bin(i) = 1; i += 1 }
      Raster.vectorizeWithHoles(bin, t.rows, t.cols).map { rings =>
        val world = rings.map(Geom.affine(_, t.gsd.toDouble, 0, 0, t.gsd.toDouble,
          t.minX.toDouble, t.minY.toDouble))
        val area = Geom.area(world.head) - world.tail.map(Geom.area).sum
        (t.region, t.tileId, t.classIdx, area, world.head, rings.size - 1)
      }
    }.toDF("region", "cache_tile", "class_idx", "area", "poly", "n_holes")
  }

  /** GSD rescale of confidence tiles (T4/R4): box-blur ≈1.5×scale then
    * bilinear resize — the reference's downsample path
    * (data/tiling.py:421-449). Partition-local kernel, no shuffle. */
  def resampleTiles(spark: SparkSession, tiles: Dataset[ConfTile],
                    newGsd: Int): Dataset[ConfTile] = {
    import spark.implicits._
    tiles.map { t =>
      val scale = newGsd.toDouble / t.gsd
      val data =
        if (scale > 1) {
          val kernel = math.max(1, math.round(1.5 * scale).toInt | 1)
          val blurred = Raster.boxBlur(t.data, t.rows, t.cols, kernel)
          Raster.resampleBilinear(blurred, t.rows, t.cols,
            math.max(1, (t.rows / scale).toInt), math.max(1, (t.cols / scale).toInt))
        } else Raster.resampleBilinear(t.data, t.rows, t.cols,
          math.max(1, (t.rows / scale).toInt), math.max(1, (t.cols / scale).toInt))
      val nr = math.max(1, (t.rows / scale).toInt)
      val nc = math.max(1, (t.cols / scale).toInt)
      t.copy(rows = nr, cols = nc, gsd = newGsd, data = data)
    }
  }

  /** Semantic-score polygon filter (P9/J5): equi-join polygons (from
    * vectorizeMosaic: region, cache_tile, class_idx, poly) to their
    * raster tiles, compute the median confidence under each polygon
    * (geometry-mask sample), keep those ≥ thr255. Mirrors
    * util.py:37-79 `filter_shapefile` (median > 0.4). */
  def filterByMaskMedian(spark: SparkSession, polys: DataFrame,
                         mosaicTiles: Dataset[ConfTile], thr255: Double): DataFrame = {
    import spark.implicits._
    val tiles = mosaicTiles
      .map(t => (t.region, t.classIdx, t.tileId, t.minX, t.minY, t.rows, t.cols, t.gsd, t.data))
      .toDF("region", "class_idx", "cache_tile", "t_min_x", "t_min_y",
        "t_rows", "t_cols", "t_gsd", "t_data")
    val medianUdf = udf((poly: Seq[Double], minX: Long, minY: Long,
                         rows: Int, cols: Int, gsd: Int, data: Array[Byte]) => {
      val local = Geom.affine(poly.toArray, 1.0 / gsd, 0, 0, 1.0 / gsd,
        -minX.toDouble / gsd, -minY.toDouble / gsd)
      Raster.maskedMedian(data, rows, cols, local)
    })
    polys.join(tiles, Seq("region", "class_idx", "cache_tile"))
      .withColumn("median_conf", medianUdf(col("poly"), col("t_min_x"),
        col("t_min_y"), col("t_rows"), col("t_cols"), col("t_gsd"), col("t_data")))
      .filter(col("median_conf") >= thr255)
      .drop("t_min_x", "t_min_y", "t_rows", "t_cols", "t_gsd", "t_data")
  }

  /** Confusion-matrix metrics (A8) between two mosaics of the same
    * grid/class (e.g. prediction vs reference): per (region, class)
    * tp/fp/fn/tn partial-summed per tile then aggregated; accuracy /
    * IoU / precision / recall / F1 in ppm. */
  def confusionMetrics(spark: SparkSession, pred: Dataset[ConfTile],
                       truth: Dataset[ConfTile], thr255: Int): DataFrame = {
    import spark.implicits._
    val p = pred.map(t => ((t.region, t.classIdx, t.tileId), t))
    val g = truth.map(t => ((t.region, t.classIdx, t.tileId), t))
    p.joinWith(g, p("_1") === g("_1"), "fullouter")
      .map { case (pt, gt) =>
        val key = if (pt != null) pt._1 else gt._1
        val pd = if (pt != null) pt._2.data else null
        val gd = if (gt != null) gt._2.data else null
        val n = if (pd != null) pd.length else gd.length
        var tp = 0L; var fp = 0L; var fn = 0L; var tn = 0L
        var i = 0
        while (i < n) {
          val pv = pd != null && (pd(i) & 0xff) > thr255
          val gv = gd != null && (gd(i) & 0xff) > thr255
          if (pv && gv) tp += 1 else if (pv) fp += 1
          else if (gv) fn += 1 else tn += 1
          i += 1
        }
        (key._1, key._2, tp, fp, fn, tn)
      }
      .toDF("region", "class_idx", "tp", "fp", "fn", "tn")
      .groupBy(col("region"), col("class_idx"))
      .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"), sum("tn").as("tn"))
      .withColumn("accuracy_ppm",
        floor(lit(1000000) * (col("tp") + col("tn")) / (col("tp") + col("fp") + col("fn") + col("tn"))).cast("long"))
      .withColumn("iou_ppm",
        floor(lit(1000000) * col("tp") / greatest(col("tp") + col("fp") + col("fn"), lit(1))).cast("long"))
      .withColumn("precision_ppm",
        floor(lit(1000000) * col("tp") / greatest(col("tp") + col("fp"), lit(1))).cast("long"))
      .withColumn("recall_ppm",
        floor(lit(1000000) * col("tp") / greatest(col("tp") + col("fn"), lit(1))).cast("long"))
      .withColumn("f1_ppm",
        floor(lit(2000000) * col("tp") / greatest(lit(2) * col("tp") + col("fp") + col("fn"), lit(1))).cast("long"))
  }

  /** One polygon-masked instance crop: `crop` is the raster window
    * under the crown's bbox with pixels OUTSIDE the polygon zeroed,
    * `poly` the polygon in crop-local raster coords. */
  final case class InstanceCrop(region: Long, crownId: Long, classIdx: Int,
                                score: Double, minCx: Long, minCy: Long,
                                rows: Int, cols: Int, crop: Array[Byte],
                                poly: Array[Double])

  /** Per-instance masked crop extraction — the tcd-extract analogue
    * (scripts/extract.py:56-92): window = the instance's bbox, raster
    * read from the (region, class) confidence mosaic, pixels outside
    * the polygon set to 0 (`out_crop[extended_mask] = 0`), instances
    * not fully inside the extent skipped (`shape.within(src.bounds)`).
    * Shape: crown bbox → covering cache-tile ids (closed-form
    * arithmetic, same trick as assignTiles) → equi-join with mosaic
    * tiles on (region, class, cache tile) → per-crown window assembly.
    * One shuffle (the group-by); each group holds ≤4 tile pieces. */
  def extractCrops(spark: SparkSession, crowns: Dataset[CrownOps.Crown],
                   mosaicTiles: Dataset[ConfTile], spec: TileGridSpec,
                   cacheTileSize: Long = 1024): Dataset[InstanceCrop] = {
    import spark.implicits._
    val nCx = math.ceil(spec.width.toDouble / cacheTileSize).toInt
    // (cacheId, crown) candidates — bounds check mirrors the reference's
    // within(src.bounds) skip
    val cand = crowns
      .filter(c => c.minX >= 0 && c.minY >= 0 &&
        c.maxX <= spec.width && c.maxY <= spec.height)
      .flatMap { c =>
        val cx0 = math.floor(c.minX).toLong / cacheTileSize
        val cx1 = math.max(cx0, (math.ceil(c.maxX).toLong - 1) / cacheTileSize)
        val cy0 = math.floor(c.minY).toLong / cacheTileSize
        val cy1 = math.max(cy0, (math.ceil(c.maxY).toLong - 1) / cacheTileSize)
        for (cy <- cy0 to cy1; cx <- cx0 to cx1)
          yield ((c.region, c.classIdx, cy * nCx + cx), c)
      }
    val tiles = mosaicTiles.map(t => ((t.region, t.classIdx, t.tileId), t))
    cand.joinWith(tiles, cand("_1") === tiles("_1"))
      .map { case ((_, c), (_, t)) => (c, t) }
      .groupByKey { case (c, _) => c.crownId }
      .flatMapGroups { (_: Long, it: Iterator[(CrownOps.Crown, ConfTile)]) =>
        val pieces = it.toSeq
        val c = pieces.head._1
        val gsd = pieces.head._2.gsd
        // window in raster cells (pixel-grid snap of the bbox)
        val cx0 = math.floor(c.minX / gsd).toInt
        val cy0 = math.floor(c.minY / gsd).toInt
        val cols = math.max(1, math.ceil(c.maxX / gsd).toInt - cx0)
        val rows = math.max(1, math.ceil(c.maxY / gsd).toInt - cy0)
        val crop = new Array[Byte](rows * cols)
        pieces.foreach { case (_, t) =>
          Raster.paste(crop, rows, cols, t.data, t.rows, t.cols,
            (t.minY / gsd).toInt - cy0, (t.minX / gsd).toInt - cx0, mode = 1)
        }
        // zero outside the polygon (geometry_mask, extract.py:63-71)
        val local = Geom.affine(c.poly, 1.0 / gsd, 0, 0, 1.0 / gsd,
          -cx0.toDouble, -cy0.toDouble)
        val inside = Raster.rasterize(local, rows, cols)
        var i = 0
        while (i < crop.length) { if (inside(i) == 0) crop(i) = 0; i += 1 }
        Iterator.single(InstanceCrop(c.region, c.crownId, c.classIdx, c.score,
          cx0.toLong, cy0.toLong, rows, cols, crop, local))
      }
  }
}
