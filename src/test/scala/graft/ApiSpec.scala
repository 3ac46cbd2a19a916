package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.SchedulerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

import graft.api.{CrownResult, GraftPipeline}
import graft.operators.{CrownOps, GeoOps, RasterOps}
import graft.tables.{GeoTiffIO, PagesGen}

/** The interactive result surface — ports the reference ROI test
  * (tests/unit/test_post_processing.py:54-85: shrink bounds to the
  * center 50%, valid pixels match the ROI area exactly, tree count
  * strictly drops) and the threshold/serialise verbs. */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val result: CrownResult = GraftPipeline.predictPages(spark, 3000)

  test("predict returns trees and instances above threshold") {
    val all = result.instances.count()
    val trees = result.getTrees.count()
    assert(all > 0 && trees > 0 && trees < all)
    // raising the threshold strictly reduces the set
    val strict = result.setThreshold(0.8)
    assert(strict.getTrees.count() < trees)
  }

  test("ROI center-50% filter: tree count strictly drops, valid px = ROI area") {
    val roi = Array(512.0, 512.0, 1536.0, 512.0, 1536.0, 1536.0, 512.0, 1536.0)
    val withRoi = result.setRoi(roi)
    val before = result.getTrees.count()
    val after = withRoi.getTrees.count()
    assert(after > 0 && after < before)
    // reference _filter_roi keeps every instance whose polygon
    // INTERSECTS the ROI (instancesegmentationresult.py:192-216):
    // every survivor intersects, and boundary-straddling instances
    // (bbox center OUTSIDE the ROI) are kept, not dropped
    var boundaryKept = 0
    withRoi.getTrees.collect().foreach { r =>
      val parts = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("parts")
      assert(parts.exists(p => graft.geom.Geom.intersects(p.toArray, roi)))
      val cx = (r.getAs[Double]("minX") + r.getAs[Double]("maxX")) / 2
      val cy = (r.getAs[Double]("minY") + r.getAs[Double]("maxY")) / 2
      if (!(cx >= 512 && cx <= 1536 && cy >= 512 && cy <= 1536)) boundaryKept += 1
    }
    assert(boundaryKept > 0,
      "expected at least one boundary-straddling instance to survive the ROI filter")
    // and no intersecting instance was dropped: survivors = exactly the
    // trees whose polygon intersects the ROI
    val expected = result.getTrees.collect().count { r =>
      r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("parts")
        .exists(p => graft.geom.Geom.intersects(p.toArray, roi))
    }
    assert(after === expected.toLong)
    // valid pixel count equals the rasterized ROI area exactly
    // (1024x1024 px at gsd 8 → 128x128 cells)
    val cov = withRoi.canopyCover.collect()
    assert(cov.map(_.getAs[Long]("valid_px")).sum === 128L * 128L)
    // and coverage within ROI differs from full-extent total pixels
    val full = result.canopyCover.collect()
    assert(full.map(_.getAs[Long]("valid_px")).sum === 256L * 256L)
  }

  test("P13 end to end: GSD mismatch resizes the tile windows through the whole pipeline") {
    // srcGsd 0.2 / targetGsd 0.1 → scale 0.5 → 512-px source windows:
    // a 2048² world becomes a 5×5 overlapping grid instead of 3×3
    val conf = api.GraftPipeline.Conf(srcGsd = 0.2, targetGsd = 0.1)
    val (spec, scale) = graft.grid.TileGridSpec.atGsd(2048, 2048, 1024, 256, 0.2, 0.1)
    assert(scale === 0.5 && spec.tileSize === 512L && spec.nTiles === 25)
    val res = api.GraftPipeline.predict(spark,
      graft.tables.PagesGen.pages(spark, 2000), conf)
    assert(res.getTrees.count() > 0)
    // per-tile operators saw 512-px windows: no crown bbox wider than a
    // source window (crowns are clipped by edge rejection per window)
    val wide = res.instances.filter(
      org.apache.spark.sql.functions.col("maxX") -
        org.apache.spark.sql.functions.col("minX") > 512).count()
    assert(wide === 0L)
    // default conf (matched GSD) keeps the golden 9-tile grid
    val (d, s1) = graft.grid.TileGridSpec.atGsd(2048, 2048, 1024, 256, 0.1, 0.1)
    assert(s1 === 1.0 && d === graft.operators.GeoOps.TileGrid.Default)
    // UNALIGNED grid (1463-px windows at 585-px origins — no fixed gsd
    // divides them): predict snaps the raster to alignedGsd (here 1)
    // and the cover denominator follows, so ppm stays on one scale
    val (u, _) = graft.grid.TileGridSpec.atGsd(2048, 2048, 1024, 256, 0.07, 0.1)
    assert(u.tileSize === 1463L)
    assert(graft.operators.RasterOps.alignedGsd(u, 8) === 1)
    val resU = api.GraftPipeline.predict(spark,
      graft.tables.PagesGen.pages(spark, 800),
      api.GraftPipeline.Conf(srcGsd = 0.07, targetGsd = 0.1))
    val covU = resU.canopyCover.collect()
    assert(covU.map(_.getAs[Long]("valid_px")).sum === 2048L * 2048L)
    // and an unaligned gsd on the raster producer fails loud, not
    // silently truncated
    intercept[IllegalArgumentException] {
      graft.operators.RasterOps.confidenceTiles(spark,
        graft.operators.CrownOps.synthesize(spark,
          graft.operators.GeoOps.assignTiles(
            graft.tables.PagesGen.pages(spark, 10), u), u), u, 8)
    }
  }

  test("serialise writes canonical fixtures") {
    val dir = java.nio.file.Files.createTempDirectory("crownres").toString
    result.serialise(dir)
    val lines = graft.tables.FixtureIO.readFixtureLines(s"$dir/instances.jsonl")
    assert(lines.nonEmpty && lines.forall(_.startsWith("{\"region\":")))
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/coverage.json")))
    assert(cov.startsWith("[{\"region\":0,"))
  }

  test("report bundle: shapefile trio + geojson + histogram jpg/json + GeoTIFF masks + report.json") {
    val dir = java.nio.file.Files.createTempDirectory("crownreport").toString
    result.report(dir, stem = "site")
    def file(n: String) = java.nio.file.Paths.get(dir, n)
    // reference report-folder artifacts (report.py generate_report)
    for (ext <- Seq("shp", "shx", "dbf"))
      assert(java.nio.file.Files.exists(file(s"site_tcd_0.3.$ext")), ext)
    val js = new String(java.nio.file.Files.readAllBytes(file("tree_geojson.js")), "UTF-8")
    assert(js.startsWith("var tree_shapes = {\"type\": \"FeatureCollection\""))
    // the bundle written from the in-memory records is the trio's own,
    // read back from disk
    val (fields, rows) = graft.tables.ShapefileIO.parseDbf(
      java.nio.file.Files.readAllBytes(file("site_tcd_0.3.dbf")))
    assert(js.drop("var tree_shapes = ".length) === graft.tables.ShapefileIO.bundleGeojson(
      graft.tables.ShapefileIO.read(file("site_tcd_0.3.shp").toString), fields, rows))
    // the histogram image is a REAL JPEG: decode it back with JdkCodec
    val jpg = java.nio.file.Files.readAllBytes(file("area_histogram.jpg"))
    val img = graft.operators.Multimodal.JdkCodec.decodeImage(jpg)
    assert(img.isDefined && img.get.getWidth === 640 && img.get.getHeight === 400)
    // pin the DECODED pixel channel sums (not the file bytes — JPEG
    // entropy coding may legally differ) so a drawing regression is
    // caught instead of silently redrawing the report image. The
    // HARD assertion is a ±1% band per channel: a blanked/garbled
    // render lands far outside it, while a routine JDK/Graphics2D or
    // JPEG-codec update (sub-percent rounding shifts) degrades to the
    // info-level drift note below instead of a red suite.
    val sums = {
      var (r, g0, b) = (0L, 0L, 0L)
      val im = img.get
      for (y <- 0 until im.getHeight; x <- 0 until im.getWidth) {
        val p = im.getRGB(x, y)
        r += (p >> 16) & 0xff; g0 += (p >> 8) & 0xff; b += p & 0xff
      }
      (r, g0, b)
    }
    info(s"histogram jpg channel sums: $sums")
    val pinned = Seq(55620290L, 58369132L, 55641488L)
    Seq(sums._1, sums._2, sums._3).zip(pinned).zip(Seq("r", "g", "b")).foreach {
      case ((got, want), ch) =>
        assert(math.abs(got - want) <= want / 100,
          s"area_histogram.jpg $ch-channel sum $got is > 1% from pinned $want " +
            "— the rendered histogram content regressed (not codec rounding)")
    }
    if (Seq(sums._1, sums._2, sums._3) != pinned)
      info(s"channel sums drifted within the 1% band (JDK render change?) — " +
        s"got $sums, pinned $pinned; eyeball the image and re-pin")
    // histogram json matches the operator output row count
    val hj = new String(java.nio.file.Files.readAllBytes(file("area_histogram.json")), "UTF-8")
    assert(hj.startsWith("[{\"region\":") && hj.contains("\"bin\":"))
    // masks: GeoTIFF tiles that scan back
    val masks = graft.tables.GeoTiffIO.readTable(spark, s"$dir/masks").collect()
    assert(masks.nonEmpty && masks.forall(_.data.nonEmpty))
    // report data map
    val rj = new String(java.nio.file.Files.readAllBytes(file("report.json")), "UTF-8")
    assert(rj.contains("\"image_name\":\"site\""))
    assert(rj.contains("\"number_trees\":") && rj.contains("\"canopy_cover\":[{\"region\":0,"))
    val nTrees = "\"number_trees\":(\\d+)".r.findFirstMatchIn(rj).get.group(1).toInt
    assert(nTrees === result.getTrees.count().toInt)
    // canopy/tree cover in report.json tie back to REFERENCE semantics
    // (processedresult.py:109-118: cover = count_nonzero(confidence
    // mask > threshold) / num_valid_pixels), recomputed here with a
    // plain loop over the collected mosaic pixels — independent of the
    // distributed cover() aggregation the report used
    val thr255 = math.round(result.threshold * 255).toInt
    // same truncation as cover()'s `side` so the denominators agree for
    // any rasterGsd, divisor of the extent or not
    val side = (graft.operators.GeoOps.TileGrid.ExtentX / result.rasterGsd).toInt
    val validPx = side.toLong * side
    val tiles = result.mosaic.collect()
    def referenceCoverPpm(cls: Int): Map[Long, Long] =
      tiles.filter(_.classIdx == cls).groupBy(_.region).map { case (rg, ts) =>
        val nz = ts.map(_.data.count(b => (b & 0xff) > thr255).toLong).sum
        rg -> math.floor((1000000L * nz).toDouble / validPx).toLong
      }
    def reported(key: String): Map[Long, Long] =
      (s""""$key":\\[(.*?)\\]""".r.findFirstMatchIn(rj).get.group(1) match {
        case body => "\\{\"region\":(\\d+),\"cover_ppm\":(\\d+)\\}".r
          .findAllMatchIn(body).map(m => m.group(1).toLong -> m.group(2).toLong).toMap
      })
    assert(reported("canopy_cover") === referenceCoverPpm(CrownOps.ClassCanopy),
      "report.json canopy_cover != reference count_nonzero/num_valid recompute")
    assert(reported("tree_cover") === referenceCoverPpm(CrownOps.ClassTree),
      "report.json tree_cover != reference count_nonzero/num_valid recompute")
    assert(reported("canopy_cover").values.forall(v => v > 0 && v < 1000000))
  }

  test("serialiseTable: parquet reads back as the instances, with no dictionary-encoded column") {
    val dir = java.nio.file.Files.createTempDirectory("crowntable").toString
    result.serialiseTable(dir)
    val path = s"$dir/instances.parquet"
    val back = spark.read.parquet(path)
    assert(back.schema.fieldNames.toSeq === result.instances.schema.fieldNames.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val want = rows(result.instances)
    assert(want.nonEmpty)
    assert(rows(back) === want)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    val chunks = files.toSeq.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      finally reader.close()
    }
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      assert(!c.hasDictionaryPage, s"${c.getPath} has a dictionary page")
      assert(!c.getEncodings.asScala.exists(_.usesDictionary),
        s"${c.getPath} lists encodings ${c.getEncodings}")
    }
  }

  test("predict starts no job; the mosaic's upstream runs once per result, shared by every view") {
    // every submitted shuffle map stage, and the shuffle stages each job
    // lists (a listed stage that is never submitted was skipped)
    final class Stages extends SparkListener {
      val submitted = mutable.ArrayBuffer.empty[Int]
      val listed = mutable.ArrayBuffer.empty[Set[Int]]
      var jobs = 0
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += 1
        listed += e.stageInfos.flatMap(SchedulerAccess.shuffleId).toSet
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        submitted ++= SchedulerAccess.shuffleId(e.stageInfo)
      }
    }
    val sc = spark.sparkContext
    def observe[T](body: => T): (T, Stages) = {
      val l = new Stages
      sc.addSparkListener(l)
      try {
        val out = body
        SchedulerAccess.drain(sc)
        (out, l)
      } finally sc.removeSparkListener(l)
    }
    def covers(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Long]("region") -> r.getAs[Long]("cover_ppm")).toMap

    val (res, built) = observe(GraftPipeline.predictPages(spark, 3000))
    assert(built.jobs === 0, "predict must start no Spark job")

    // the merge runs first: its one submitted shuffle stage is the crowns
    // exchange (the merge itself runs in the parquet write's result stage)
    val dir = java.nio.file.Files.createTempDirectory("sharedmosaic")
    val (_, c0) = observe(res.serialiseTable(dir.resolve("table").toString))
    assert(c0.submitted.size === 1, s"serialiseTable submitted ${c0.submitted}")
    val crownsExchange = c0.submitted.head
    val (canopy, c1) = observe(covers(res.canopyCover))
    val (tree, c2) = observe(covers(res.treeCover))
    val (strict, c3) = observe(covers(res.setThreshold(0.5).canopyCover))
    val tiles = dir.resolve("tiles")
    val (_, c4) = observe(GeoTiffIO.writeTable(res.mosaic, tiles.toString))

    // every mosaic verb reads the crowns exchange the merge ran, and none
    // runs it again: synthesize runs once per result
    for (c <- Seq(c1, c2, c3, c4)) {
      assert(c.listed.flatten.contains(crownsExchange),
        s"a mosaic job does not read the crowns exchange: lists ${c.listed}")
      assert(!c.submitted.contains(crownsExchange))
    }
    // the GeoTIFF job reads the mosaic only: the shuffle stages it lists
    // are the crowns and mosaic exchanges, and all were skipped
    val upstream = c4.listed.flatten.toSet
    assert(upstream.size >= 2, s"writeTable job lists shuffle stages $upstream")
    assert(c4.submitted.isEmpty, s"writeTable re-ran shuffle stages ${c4.submitted}")
    // canopyCover ran the mosaic exchange once; each later cover runs
    // only its own aggregation exchange and lists the upstream stages as
    // skipped
    assert(upstream.subsetOf((c0.submitted ++ c1.submitted).toSet))
    for (c <- Seq(c2, c3)) {
      assert(c.submitted.size === 1 && !upstream.contains(c.submitted.head),
        s"cover submitted ${c.submitted}, upstream $upstream")
      assert(upstream.subsetOf(c.listed.flatten.toSet))
    }
    val all = Seq(c0, c1, c2, c3, c4).flatMap(_.submitted)
    assert(all.distinct.size === all.size, s"a shuffle stage ran twice: $all")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
    assert(sc.getPersistentRDDs.isEmpty)

    // a second predict on the same pages is a new run: its upstream runs again
    val (_, again) = observe(covers(GraftPipeline.predictPages(spark, 3000).canopyCover))
    assert(again.submitted.size === c0.submitted.size + c1.submitted.size)
    assert(again.submitted.toSet.intersect(all.toSet).isEmpty)

    // the shared run's outputs equal a fresh mosaic plan's
    val spec = GeoOps.TileGrid.Default
    val fresh = RasterOps.mosaic(spark, RasterOps.confidenceTiles(spark,
      CrownOps.synthesize(spark, GeoOps.assignTiles(PagesGen.pages(spark, 3000), spec), spec),
      spec, res.rasterGsd), spec).collect()
    val side = (GeoOps.TileGrid.ExtentX / res.rasterGsd).toInt
    def freshCover(cls: Int, thr: Double): Map[Long, Long] = {
      val thr255 = math.round(thr * 255).toInt
      fresh.filter(_.classIdx == cls).groupBy(_.region).map { case (rg, ts) =>
        val nz = ts.map(_.data.count(b => (b & 0xff) > thr255).toLong).sum
        rg -> math.floor((1000000L * nz).toDouble / (side.toLong * side)).toLong
      }
    }
    assert(canopy === freshCover(CrownOps.ClassCanopy, res.threshold))
    assert(tree === freshCover(CrownOps.ClassTree, res.threshold))
    assert(strict === freshCover(CrownOps.ClassCanopy, 0.5))
    assert(tiles.toFile.list().length === fresh.length)
    fresh.foreach { t =>
      val f = tiles.resolve(s"r${t.region}_c${t.classIdx}_t${t.tileId}.tif")
      assert(java.nio.file.Files.readAllBytes(f) sameElements GeoTiffIO.write(t, deflate = true))
    }
  }
}
