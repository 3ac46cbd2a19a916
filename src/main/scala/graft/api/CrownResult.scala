package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.geom.Geom
import graft.operators.{CrownOps, GeoOps, RasterOps}
import graft.tables.{FixtureIO, PagesGen}
import org.apache.spark.sql.graft.Bridge

/** The interactive query surface over a pipeline run — the engine's
  * `ProcessedResult` (reference result/processedresult.py:19-171,
  * result/instancesegmentationresult.py:113-604): `getTrees`,
  * `canopyCover`/`treeCover`, `setThreshold`, `setRoi`, `serialise`.
  * Immutable: the set*ers return new views; every verb is a short
  * DataFrame plan over the merged-crown table + confidence mosaic, so
  * the surface stays cluster-scale.
  *
  * Laziness and sharing: building a result (GraftPipeline.predict)
  * starts no Spark job. The crowns are exchanged ONCE, hash-partitioned
  * on (region, classIdx) (CrownOps.byRegionClass), when the first verb
  * needs them. The merged table and the mosaic are both plans over that
  * one exchange, read through Bridge.partitionedView, so neither adds
  * an exchange before its group-by and synthesis runs once per result.
  * The mosaic's own upstream (confidenceTiles → mosaic exchange) runs
  * once too, when the first verb touches [[mosaic]] — canopyCover/
  * treeCover (already when their DataFrame is built), report, or
  * GeoTiffIO.writeTable(mosaic). This result and every setThreshold/
  * setRoi view share one [[CrownResult.Shared]] holder, so they reuse
  * those runs through the shuffle files Spark keeps. Nothing is cached
  * or persisted: the files live while the result is reachable, lost
  * ones are recomputed from lineage, and a new predict runs its own
  * upstream. Each instance verb runs the merge over the shared
  * exchange.
  *
  * @param shared     the shared crowns exchange and the merged and
  *                   mosaic plans over it (built on first use)
  * @param threshold  score threshold (reference confidence_threshold).
  *                   As in the reference, instances below the PIPELINE
  *                   confidence floor were never stored, so lowering the
  *                   threshold below it cannot reveal more instances —
  *                   only raising it filters further.
  * @param roi        optional region-of-interest polygon (flat coords,
  *                   region-local) — filters instances and masks pixels
  *                   (result/processedresult.py:77-104 set_roi)
  * @param rasterGsd  resolution the mosaic tiles were rasterized at —
  *                   the `cover` denominator must use the SAME gsd as
  *                   the tile data or ppm silently skews (predict picks
  *                   it via RasterOps.alignedGsd for scaled grids)
  */
final case class CrownResult(
    spark: SparkSession,
    private val shared: CrownResult.Shared,
    threshold: Double = 0.3, // = GraftPipeline default confThr (the floor)
    roi: Option[Array[Double]] = None,
    rasterGsd: Int = RasterOps.DefaultGsd) {

  /** Merged crown table (CrownOps.MergedCrown schema), unfiltered. */
  def merged: DataFrame = shared.merged

  /** Per-class confidence mosaic tiles, read from one shared run of the
    * mosaic plan. `Dataset.rdd` is computed once per Dataset object,
    * and taking it makes adaptive execution materialize the plan's
    * shuffle map stages (the mosaic exchange; the crowns exchange it
    * reads is already materialized by the shared view). The views
    * `copy` makes hold the same [[CrownResult.Shared]], so the first
    * call on any of them runs those stages and every later action over
    * the wrapped RDD skips them.
    *
    * Deliberately not `Dataset.cache`/`persist`: the CacheManager keys
    * on the plan, so an identical later predict would be served from
    * this one's cache, and the cached blocks would pin executor memory.
    * Here the only state is the shuffle files Spark keeps anyway; the
    * ContextCleaner removes them once the result is unreachable. */
  def mosaic: Dataset[RasterOps.ConfTile] = {
    import spark.implicits._
    spark.createDataset(shared.mosaicPlan.rdd)
  }

  def setThreshold(t: Double): CrownResult = copy(threshold = t)

  def setRoi(poly: Array[Double]): CrownResult = copy(roi = Some(poly))

  private def roiFiltered(df: DataFrame): DataFrame = roi match {
    case None => df
    case Some(p) =>
      val bb = Geom.BBox.ofPolygon(p)
      // bbox prefilter + exact polygon-intersects residual on the
      // instance polygons — the reference's _filter_roi keeps every
      // instance whose geometry INTERSECTS the ROI (result/
      // instancesegmentationresult.py:192-216), so an instance
      // straddling the ROI boundary is kept, not dropped
      df.filter(col("maxX") >= bb.minX && col("minX") <= bb.maxX &&
          col("maxY") >= bb.minY && col("minY") <= bb.maxY)
        .filter(exists(col("parts"), part => st_intersects(part, typedlit(p))))
  }

  /** Instances of the TREE class above the threshold
    * (instancesegmentationresult.py:239-260 get_trees). */
  def getTrees: DataFrame =
    roiFiltered(merged.filter(col("classIdx") === CrownOps.ClassTree &&
      col("score") > threshold))

  /** All instances above threshold (any class). */
  def instances: DataFrame = roiFiltered(merged.filter(col("score") > threshold))

  /** Fraction (ppm) of valid pixels with class confidence above the
    * threshold (processedresult.py:109-118 canopy_cover/tree_cover).
    * With an ROI set, valid pixels = pixels inside the ROI polygon. */
  def cover(classIdx: Int): DataFrame = {
    import spark.implicits._
    val thr255 = math.round(threshold * 255).toInt
    val roiPoly = roi
    // covered pixels come from the tiles that exist (crown-free tiles
    // contribute zero coverage); the VALID denominator is analytic over
    // the full extent (or the rasterized ROI area) — mosaic tiles only
    // exist where crowns do, so summing per-tile valid pixels would
    // inflate coverage (processedresult.py:109-118 divides by all valid
    // image pixels).
    val gsd = rasterGsd
    val side = (GeoOps.TileGrid.ExtentX / gsd).toInt
    val validTotal: Long = roiPoly match {
      case None => side.toLong * side
      case Some(p) =>
        val local = Geom.affine(p, 1.0 / gsd, 0, 0, 1.0 / gsd, 0, 0)
        graft.geom.Raster.rasterize(local, side, side).count(_ != 0).toLong
    }
    val stats = mosaic.filter(_.classIdx == classIdx).map { t =>
      val inRoi: Array[Byte] = roiPoly match {
        case None => null
        case Some(p) =>
          val local = Geom.affine(p, 1.0 / t.gsd, 0, 0, 1.0 / t.gsd,
            -t.minX.toDouble / t.gsd, -t.minY.toDouble / t.gsd)
          graft.geom.Raster.rasterize(local, t.rows, t.cols)
      }
      var nz = 0L
      var i = 0
      while (i < t.data.length) {
        if ((inRoi == null || inRoi(i) != 0) && (t.data(i) & 0xff) > thr255) nz += 1
        i += 1
      }
      (t.region, nz)
    }.toDF("region", "nz")
    stats.groupBy(col("region"))
      .agg(floor(lit(1000000) * sum(col("nz")) / lit(validTotal))
        .cast("long").as("cover_ppm"),
        sum(col("nz")).as("covered_px"))
      .withColumn("valid_px", lit(validTotal))
  }

  def canopyCover: DataFrame = cover(CrownOps.ClassCanopy)
  def treeCover: DataFrame = cover(CrownOps.ClassTree)

  /** Distributed serialization for large results: instances as parquet
    * (cluster-scale; no driver collect). Dictionary encoding is off: the
    * vertex and bbox doubles are almost all distinct, so parquet would
    * build a dictionary per column chunk only to fall back to plain
    * encoding. */
  def serialiseTable(outDir: String): Unit =
    instances.write.mode("overwrite").option("parquet.enable.dictionary", "false")
      .parquet(s"$outDir/instances.parquet")

  /** Serialize to the canonical fixture formats (merged crowns JSONL +
    * coverage JSON) — instancesegmentationresult.py:383-423 serialise.
    * FIXTURE-SCALE ONLY: collects instances to the driver for the
    * byte-stable canonical writer; use serialiseTable for big runs. */
  def serialise(outDir: String): Unit = {
    import spark.implicits._
    val crowns = instances.as[CrownOps.MergedCrown].collect().toSeq
    FixtureIO.writeMergedFixture(s"$outDir/instances.jsonl", crowns)
    val cov = canopyCover.orderBy("region").collect()
      .map(r => s"""{"region":${r.getLong(0)},"cover_ppm":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/coverage.json"),
      cov.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The report bundle (report.py:18-35 generate_report +
    * results_to_report): every DATA artifact the reference's report
    * folder carries, minus the HTML/PDF template render (a
    * liquid/wkhtmltopdf shell around these same files):
    *
    *   - `<stem>_tcd_<threshold>.shp/.shx/.dbf` — tree instances with
    *     the merge property schema (report.py:111-115 save_shapefile)
    *   - `tree_geojson.js` — the GeoJSON bundle (report.py:116 +71-81)
    *   - `area_histogram.jpg` — REAL JPEG bar render of the crown-area
    *     histogram (report.py:122-129: 75 bins over
    *     [0.5, quantile(areas, 0.9)]), drawn with JDK Graphics2D
    *   - `area_histogram.json` — the binned data behind the image
    *   - `masks/` — the per-class confidence mosaic as GeoTIFF tiles
    *     (save_masks analogue, S7 sink)
    *   - `report.json` — the results_to_report data map: tree count,
    *     canopy/tree cover, image area/resolution, extent bounds
    *
    * FIXTURE-SCALE on the shapefile/histogram path (driver collect,
    * like [[serialise]]); masks and covers stay distributed. */
  def report(outDir: String, stem: String = "graft"): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val trees = getTrees.as[CrownOps.MergedCrown].collect()
      .sortBy(m => (-m.score, m.region, m.minX, m.minY)).toSeq

    val shp = s"$outDir/${stem}_tcd_$threshold.shp"
    val (recs, attrs) = graft.tables.ShapefileIO.mergedCrownRecords(trees)
    graft.tables.ShapefileIO.writeFile(shp, recs, graft.tables.ShapefileIO.MergeFields, attrs)
    // geojson straight from the in-memory records (no re-read/re-parse
    // of the trio that was just written)
    val geo = graft.tables.ShapefileIO.bundleGeojson(recs,
      graft.tables.ShapefileIO.MergeFields,
      attrs.map(graft.tables.ShapefileIO.cellStrings(graft.tables.ShapefileIO.MergeFields, _)))
    java.nio.file.Files.write(dir.resolve("tree_geojson.js"),
      ("var tree_shapes = " + geo).getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // area histogram (report.py:118-129): areas are world-unit²;
    // micro-units keep the operator's integer contract
    val areas = spark.createDataset(trees.map(m =>
        (m.region, m.classIdx.toLong, math.round(m.area * 1e6))))
      .toDF("region", "class_idx", "area_micro")
    val hist = CrownOps.areaHistogram(areas)
      .orderBy("region", "class_idx", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val histJson = hist.map { case (rg, cl, b, n) =>
      s"""{"region":$rg,"class_idx":$cl,"bin":$b,"cnt":$n}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.write(dir.resolve("area_histogram.json"),
      histJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The IMAGE is ONE histogram over one GLOBAL [0.5, q90] range —
    // report.py:122-129 draws a single plt.hist over all tree areas.
    // (Summing the per-(region, class) operator bins by index would mix
    // incomparable bin widths: each group has its own q90.) The global
    // variant's q90 comes from the range-partitioned sort, so the one
    // giant group doesn't serialize at scale.
    val globalHist = CrownOps.areaHistogramGlobal(areas)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1)))
    renderHistogramJpg(dir.resolve("area_histogram.jpg").toString, globalHist)

    graft.tables.GeoTiffIO.writeTable(mosaic, s"$outDir/masks", deflate = true)

    val covRows = canopyCover.orderBy("region").collect()
    val treeRows = treeCover.orderBy("region").collect()
    def covJson(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      s"""{"region":${r.getLong(0)},"cover_ppm":${r.getLong(1)}}""").mkString("[", ",", "]")
    val gsd = rasterGsd
    val side = GeoOps.TileGrid.ExtentX
    val json =
      s"""{"image_name":"$stem","number_trees":${trees.size},""" +
      s""""image_res":$gsd,"image_area":${side * side},""" +
      s""""map_bounds":{"x":[0,$side],"y":[0,$side]},""" +
      s""""confidence_threshold":${FixtureIO.fmt(threshold)},""" +
      s""""geojson":"tree_geojson.js","area_histogram":"area_histogram.jpg",""" +
      s""""canopy_cover":${covJson(covRows)},"tree_cover":${covJson(treeRows)}}"""
    java.nio.file.Files.write(dir.resolve("report.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Minimal deterministic bar render (matplotlib-hist stand-in): white
    * canvas, black axes, filled bars over 75 bins. */
  private def renderHistogramJpg(path: String, bins: Seq[(Int, Long)]): Unit = {
    val (w, h, pad) = (640, 400, 32)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, w, h)
      g.setColor(java.awt.Color.BLACK)
      g.drawLine(pad, h - pad, w - pad, h - pad)
      g.drawLine(pad, pad, pad, h - pad)
      if (bins.nonEmpty) {
        val byBin = bins.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val maxN = math.max(1L, byBin.values.max)
        val nBins = 75
        val bw = (w - 2 * pad).toDouble / nBins
        g.setColor(new java.awt.Color(60, 120, 60))
        byBin.foreach { case (b, n) =>
          val bh = ((h - 2 * pad).toDouble * n / maxN).toInt
          g.fillRect((pad + b * bw).toInt, h - pad - bh, math.max(1, bw.toInt - 1), bh)
        }
      }
    } finally g.dispose()
    val out = new java.io.File(path)
    javax.imageio.ImageIO.write(img, "jpg", out)
  }
}

object CrownResult {

  /** One predict run's crowns exchange and the two plans that read it,
    * shared by every view `copy` makes. Building the view runs the
    * crowns' map stage, and `predict` must start no job, so the view is
    * a `lazy val`; the plans are built on it, so they are too. The
    * mosaic plan is one object because [[CrownResult.mosaic]] reads its
    * memoized `Dataset.rdd`. */
  final class Shared private[api] (
      crowns: Dataset[CrownOps.Crown],
      mergePlan: Dataset[CrownOps.Crown] => DataFrame,
      mosaicOf: Dataset[CrownOps.Crown] => Dataset[RasterOps.ConfTile]) {
    private lazy val view = Bridge.partitionedView(CrownOps.byRegionClass(crowns))
    private[api] lazy val merged: DataFrame = mergePlan(view)
    private[api] lazy val mosaicPlan: Dataset[RasterOps.ConfTile] = mosaicOf(view)
  }
}

/** The `Pipeline(...).predict(...)` analogue (reference pipeline.py +
  * docs/prediction.md:146-157): one call plans geocode → tile-assign →
  * synthesis → fused NMS+merge → mosaic and returns the interactive
  * result surface, which runs them on first use. */
object GraftPipeline {

  /** `maxPerTile` mirrors the reference model's detections-per-tile cap
    * (Detectron TEST.DETECTIONS_PER_IMAGE = 256); Int.MaxValue = no cap
    * (keeps golden parity — the synthetic model is uncapped).
    * `srcGsd`/`targetGsd` are the P13 resolution guard (pipeline.py
    * target_gsd 0.1 m default): a mismatch sizes the tile windows in
    * SOURCE pixels via `TileGridSpec.atGsd` so every per-tile operator
    * (edge rejection, caps, confidence raster) runs at the window the
    * reference model would see; unknown srcGsd (≤ 0) degrades to the
    * plain grid, warn-and-continue style. */
  final case class Conf(nmsIou: Double = 0.7, confThr: Double = 0.3,
                        mergeIou: Double = 0.5, gsd: Int = 8,
                        maxPerTile: Int = Int.MaxValue,
                        srcGsd: Double = 0.1, targetGsd: Double = 0.1)

  def predict(spark: SparkSession, pages: DataFrame,
              conf: Conf = Conf()): CrownResult = {
    val (spec, _) = graft.grid.TileGridSpec.atGsd(
      GeoOps.TileGrid.Default.width, GeoOps.TileGrid.Default.height,
      GeoOps.TileGrid.Default.tileSize, GeoOps.TileGrid.Default.minOverlap,
      conf.srcGsd, conf.targetGsd)
    val assigned = GeoOps.assignTiles(pages, spec)
    val raw = CrownOps.synthesize(spark, assigned, spec)
    val crowns = if (conf.maxPerTile == Int.MaxValue) raw
      else CrownOps.capPerTile(raw, conf.maxPerTile)
    // a GSD-scaled spec can have windows/origins no fixed gsd divides
    // (e.g. 1463-px tiles at 585-px origins) — snap to the largest
    // aligned resolution ≤ conf.gsd so rasters and mosaic pastes stay
    // exactly on the pixel grid (Default spec: conf.gsd unchanged)
    val rgsd = RasterOps.alignedGsd(spec, conf.gsd)
    val shared = new CrownResult.Shared(crowns,
      view => CrownOps.nmsMerge(spark, view, conf.nmsIou, conf.confThr, conf.mergeIou).toDF(),
      view => RasterOps.mosaic(spark, RasterOps.confidenceTiles(spark, view, spec, rgsd), spec))
    CrownResult(spark, shared, threshold = conf.confThr, rasterGsd = rgsd)
  }

  def predictPages(spark: SparkSession, nPages: Long): CrownResult =
    predict(spark, PagesGen.pages(spark, nPages))
}
