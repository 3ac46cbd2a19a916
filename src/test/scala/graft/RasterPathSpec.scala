package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{CrownOps, GeoOps, RasterOps}
import graft.tables.{FixtureIO, PagesGen}

/** Semantic raster path + fixture serialization. */
class RasterPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val crowns = {
    val pages = PagesGen.pages(spark, 2000)
    CrownOps.synthesize(spark, GeoOps.assignTiles(pages), GeoOps.TileGrid.Default)
  }
  private val spec = GeoOps.TileGrid.Default

  test("confidence tiles: deterministic, within tile bounds, uint8 scores") {
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec).collect()
    assert(tiles.nonEmpty)
    tiles.foreach { t =>
      assert(t.rows === 128 && t.cols === 128) // 1024 / gsd 8
      assert(t.data.exists(_ != 0))
    }
    val again = RasterOps.confidenceTiles(spark, crowns, spec).collect()
    assert(tiles.sortBy(t => (t.region, t.tileId, t.classIdx)).map(_.data.toSeq) ===
      again.sortBy(t => (t.region, t.tileId, t.classIdx)).map(_.data.toSeq))
  }

  test("inner crop: reference pad semantics incl. ≥1px right/top") {
    val t = RasterOps.ConfTile(0, 0, 0, 0, 0, 128, 128, 8, new Array[Byte](128 * 128))
    val c = RasterOps.innerCrop(t, spec)
    // tile 0 at origin: left/bottom keep 0 pad, right/top crop 16 cells (128px/8)
    assert(c.minX === 0 && c.minY === 0)
    assert(c.cols === 128 - 16 && c.rows === 128 - 16)
    val t4 = RasterOps.ConfTile(0, 4, 0, 512, 512, 128, 128, 8, new Array[Byte](128 * 128))
    val c4 = RasterOps.innerCrop(t4, spec)
    assert(c4.minX === 512 + 128 && c4.cols === 128 - 32) // both sides cropped
  }

  test("mosaic covers the extent without double counting, coverage sane") {
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec)
    val mos = RasterOps.mosaic(spark, tiles, spec)
    val cov = RasterOps.coverage(spark, mos, thr255 = 76).collect()
    assert(cov.nonEmpty)
    cov.foreach { r =>
      val ppm = r.getAs[Long]("cover_ppm")
      assert(ppm > 0 && ppm < 1000000)
    }
    // total pixels per (region, class) = full extent once tiles merge
    val totals = cov.map(_.getAs[Long]("total_px")).distinct
    assert(totals.forall(_ <= 256L * 256L)) // 2048/8 squared
  }

  test("confusion metrics: self-comparison is perfect") {
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec)
    val mos = RasterOps.mosaic(spark, tiles, spec)
    val m = RasterOps.confusionMetrics(spark, mos, mos, thr255 = 76).collect()
    m.foreach { r =>
      assert(r.getAs[Long]("fp") === 0L && r.getAs[Long]("fn") === 0L)
      assert(r.getAs[Long]("accuracy_ppm") === 1000000L)
      assert(r.getAs[Long]("iou_ppm") === 1000000L)
    }
  }

  test("NMS-filtered mosaic vs full mosaic: high but imperfect recall") {
    val kept = CrownOps.nms(spark, crowns, 0.7)
    val pred = RasterOps.mosaic(spark, RasterOps.confidenceTiles(spark, kept, spec), spec)
    val truth = RasterOps.mosaic(spark, RasterOps.confidenceTiles(spark, crowns, spec), spec)
    val m = RasterOps.confusionMetrics(spark, pred, truth, thr255 = 76).collect()
    m.foreach { r =>
      val recall = r.getAs[Long]("recall_ppm")
      assert(recall > 700000L, s"recall $recall") // NMS suppression drops some area
      assert(r.getAs[Long]("fp") === 0L) // kept ⊆ all → no false positives
    }
  }

  test("vectorize mosaic: polygons re-rasterize consistently") {
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec)
    val mos = RasterOps.mosaic(spark, tiles, spec)
    val polys = RasterOps.vectorizeMosaic(spark, mos, thr255 = 76).collect()
    assert(polys.nonEmpty)
    polys.foreach(r => assert(r.getAs[Double]("area") > 0))
  }

  test("resample: downsample preserves mean; blur smooths") {
    val src = new Array[Byte](64 * 64)
    for (r <- 16 until 48; c <- 16 until 48) src(r * 64 + c) = 100.toByte
    val down = graft.geom.Raster.resampleBilinear(src, 64, 64, 32, 32)
    val meanSrc = src.map(_ & 0xff).sum / (64.0 * 64)
    val meanDown = down.map(_ & 0xff).sum / (32.0 * 32)
    assert(math.abs(meanSrc - meanDown) < 2.0)
    val blurred = graft.geom.Raster.boxBlur(src, 64, 64, 5)
    assert((blurred(20 * 64 + 15) & 0xff) > 0) // edge smeared outward
    // resampleTiles op end-to-end
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec)
    val res = RasterOps.resampleTiles(spark, tiles, newGsd = 16).collect()
    res.foreach(t => assert(t.rows === 64 && t.gsd === 16))
  }

  test("masked median + filterByMaskMedian (P9) keep strong polygons") {
    val tiles = RasterOps.confidenceTiles(spark, crowns, spec)
    val mos = RasterOps.mosaic(spark, tiles, spec)
    val polys = RasterOps.vectorizeMosaic(spark, mos, thr255 = 76)
    val kept = RasterOps.filterByMaskMedian(spark, polys, mos, thr255 = 76.0)
    val nAll = polys.count()
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= nAll)
    // polygons vectorized at thr have median above thr by construction
    assert(nKept === nAll)
  }

  test("per-tile cap (W4): at most 256 crowns per tile, highest scores kept") {
    val capped = CrownOps.capPerTile(crowns, cap = 10).collect()
    val byTile = capped.groupBy(c => (c.region, c.tileId))
    byTile.foreach { case (_, cs) => assert(cs.length <= 10) }
    val all = crowns.collect().groupBy(c => (c.region, c.tileId))
    byTile.foreach { case (key, cs) =>
      val want = all(key).sortBy(c => (-c.score, c.crownId)).take(10)
        .map(_.crownId).toSet
      assert(cs.map(_.crownId).toSet === want)
    }
  }

  test("COCO JSON round trip (S4): encode → parse → mask identical") {
    val c = crowns.head()
    val json = FixtureIO.crownToCocoJson(c)
    val rec = FixtureIO.cocoFromJson(json)
    assert(rec.id === c.crownId && rec.categoryId === c.classIdx)
    assert(math.abs(rec.score - c.score) < 1e-6)
    val (rows, cols, rle) = FixtureIO.polyRle(c.poly)
    assert(rec.maskRows === rows && rec.maskCols === cols)
    assert(rec.mask.sameElements(graft.geom.Raster.rleDecode(rle, rows, cols)))
  }

  test("skipEmptyTiles: all-black and all-white tiles dropped (P3)") {
    val black = RasterOps.ConfTile(0, 0, 0, 0, 0, 4, 4, 8, new Array[Byte](16))
    val white = black.copy(tileId = 1, data = Array.fill[Byte](16)(-1)) // 0xff
    val mixed = black.copy(tileId = 2,
      data = Array.tabulate[Byte](16)(i => if (i % 2 == 0) 0 else 100))
    val kept = RasterOps.skipEmptyTiles(
      spark.createDataset(Seq(black, white, mixed))).collect()
    assert(kept.map(_.tileId).toSeq === Seq(2L))
  }

  test("extractCrops: masked window crop (tcd-extract semantics)") {
    val kept = CrownOps.nms(spark, crowns, iouThr = 0.7)
    val mos = RasterOps.mosaic(spark, RasterOps.confidenceTiles(spark, kept, spec), spec)
    val crops = RasterOps.extractCrops(spark, kept, mos, spec).collect()
    assert(crops.nonEmpty)
    val mosByKey = mos.collect().map(t => ((t.region, t.classIdx, t.tileId), t)).toMap
    crops.take(25).foreach { cr =>
      // window dims match the bbox snap
      assert(cr.rows >= 1 && cr.cols >= 1)
      // every pixel outside the polygon is zero
      val inside = graft.geom.Raster.rasterize(cr.poly, cr.rows, cr.cols)
      cr.crop.indices.foreach { i =>
        if (inside(i) == 0) assert(cr.crop(i) === 0.toByte,
          s"crown ${cr.crownId}: unmasked pixel $i")
      }
      // inside pixels equal the mosaic values at the same world cells
      val gsd = 8
      var checked = 0
      cr.crop.indices.foreach { i =>
        if (inside(i) != 0) {
          val wr = cr.minCy + i / cr.cols; val wc = cr.minCx + i % cr.cols
          val cacheId = (wr * gsd / 1024) * 2 + (wc * gsd / 1024)
          mosByKey.get((cr.region, cr.classIdx, cacheId)).foreach { t =>
            val tv = t.data(((wr - t.minY / gsd) * t.cols + (wc - t.minX / gsd)).toInt)
            assert(cr.crop(i) === tv, s"crown ${cr.crownId} px $i")
            checked += 1
          }
        }
      }
      assert(checked > 0, s"crown ${cr.crownId}: no inside pixel verified")
    }
    // out-of-bounds instances are skipped (reference within-bounds check)
    val oob = kept.collect().count(c => c.minX < 0 || c.minY < 0 ||
      c.maxX > spec.width || c.maxY > spec.height)
    assert(crops.length <= kept.count() - oob + 0)
  }

  test("COCO polygon branch + class_scores round-trips byte-exactly") {
    // polygon-encoded record with class_scores and label
    val poly = Array(10.0, 10.0, 30.0, 12.0, 28.0, 30.0, 9.0, 25.0)
    val bb = graft.geom.Geom.BBox.ofPolygon(poly)
    val rec = FixtureIO.CocoRecord(7L, 0L, 1, 0.9, Array(0.4, 0.9), Some(1L),
      Array(bb.minX, bb.minY, bb.width, bb.height), graft.geom.Geom.area(poly),
      0, isGlobal = true, 0, 0, Array.emptyByteArray, Seq(poly))
    val json = FixtureIO.cocoToJson(rec)
    val back = FixtureIO.cocoFromJson(json)
    assert(back.score === 0.9 && back.classScores.toSeq === Seq(0.4, 0.9))
    assert(back.label === Some(1L) && back.segPolys.head.toSeq === poly.toSeq)
    // the polygon rasterizes into the parsed mask
    assert(back.mask.count(_ != 0) > 0)
    // byte-exact re-serialization (parse normalizes mask dims; rewrite)
    assert(FixtureIO.cocoToJson(back.copy(maskRows = 0, maskCols = 0,
      mask = Array.emptyByteArray)) === json)
    // nested multipolygon segmentation also parses
    val poly2 = graft.geom.Geom.translate(poly, 100.0, 0.0)
    val rec2 = rec.copy(segPolys = Seq(poly, poly2),
      bbox = Array(9.0, 10.0, 121.0, 20.0))
    val json2 = FixtureIO.cocoToJson(rec2)
    val back2 = FixtureIO.cocoFromJson(json2)
    assert(back2.segPolys.size === 2 && back2.segPolys(1).toSeq === poly2.toSeq)
    assert(FixtureIO.cocoToJson(back2.copy(maskRows = 0, maskCols = 0,
      mask = Array.emptyByteArray)) === json2)
  }

  test("COCO RLE branch: compressed string counts parse (reference format)") {
    val c = crowns.head()
    val (rows, cols, rle) = FixtureIO.polyRle(c.poly)
    val counts = graft.geom.Raster.rleToCocoString(rle)
    val esc = counts.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = s"""{"id":1,"image_id":0,"category_id":0,"score":0.5,""" +
      s""""bbox":[${c.minX},${c.minY},${c.maxX - c.minX},${c.maxY - c.minY}],""" +
      s""""area":1,"segmentation":{"size":[$rows,$cols],"counts":"$esc"},""" +
      s""""iscrowd":1,"global":false}"""
    val rec = FixtureIO.cocoFromJson(json)
    assert(rec.maskRows === rows && rec.maskCols === cols)
    assert(rec.mask.sameElements(graft.geom.Raster.rleDecode(rle, rows, cols)))
  }

  test("fixture round trip: WKT and canonical JSON stable") {
    val poly = Array(10.0, 10.0, 30.0, 12.0, 28.0, 30.0, 9.0, 25.0)
    val wkt = FixtureIO.polyToWkt(poly)
    assert(FixtureIO.wktToPoly(wkt).toSeq === poly.toSeq)
    assert(FixtureIO.fmt(1.5) === "1.5" && FixtureIO.fmt(2.0) === "2"
      && FixtureIO.fmt(0.1234567) === "0.123457")
    val (rows, cols, rle) = FixtureIO.polyRle(poly)
    assert(rle.sum === rows * cols)
  }

  test("warp kernel: identity copies, scale-2 nearest duplicates, degenerate affine throws") {
    import graft.geom.Raster
    val src = Array.tabulate(4 * 6)(i => ((i * 37) % 251 + 1).toByte)
    // identity
    assert(Raster.warpAffine(src, 4, 6, 4, 6, 1, 0, 0, 0, 1, 0) sameElements src)
    // scale ×2 nearest: each source pixel becomes a 2×2 block
    val up = Raster.warpAffine(src, 4, 6, 8, 12, 2, 0, 0, 0, 2, 0)
    for (r <- 0 until 8; c <- 0 until 12)
      assert(up(r * 12 + c) === src((r / 2) * 6 + c / 2), s"($r,$c)")
    // out-of-source destination pixels read nodata 0
    val shifted = Raster.warpAffine(src, 4, 6, 4, 6, 1, 0, 2, 0, 1, 0) // +2 px x-shift
    for (r <- 0 until 4) {
      assert(shifted(r * 6) === 0.toByte && shifted(r * 6 + 1) === 0.toByte)
      for (c <- 2 until 6) assert(shifted(r * 6 + c) === src(r * 6 + c - 2))
    }
    // bilinear identity is also exact (centers map to centers)
    assert(Raster.warpAffine(src, 4, 6, 4, 6, 1, 0, 0, 0, 1, 0, bilinear = true)
      sameElements src)
    intercept[IllegalArgumentException] {
      Raster.warpAffine(src, 4, 6, 4, 6, 1, 2, 0, 2, 4, 0) // det 0
    }
  }

  test("warpTiles: world translation shifts origins; 180° rotation twice is identity") {
    import spark.implicits._
    val t = synthConfTile(64, 64, 8).copy(minX = 1024, minY = 512)
    val ds = spark.createDataset(Seq(t))
    // translation by whole cells: pure origin shift, pixels identical
    val moved = RasterOps.warpTiles(spark, ds, 1, 0, 8 * 3, 0, 1, -8 * 2).head()
    assert(moved.minX === 1024 + 24 && moved.minY === 512 - 16)
    assert(moved.rows === t.rows && moved.cols === t.cols)
    assert(moved.data sameElements t.data)
    // 180° rotation about the tile center, applied twice → identity
    val cx = t.minX + t.cols * 8 / 2.0
    val cy = t.minY + t.rows * 8 / 2.0
    val rot = RasterOps.warpTiles(spark, ds,
      -1, 0, 2 * cx, 0, -1, 2 * cy)
    val back = RasterOps.warpTiles(spark, rot, -1, 0, 2 * cx, 0, -1, 2 * cy).head()
    assert(back.minX === t.minX && back.minY === t.minY)
    assert(back.data sameElements t.data)
    // single rotation actually moves pixels (sanity that the test bites)
    assert(!(rot.head().data sameElements t.data))
  }

  test("reassemble: warped tiles at negative coords regroup with floor semantics; mosaic rejects them") {
    import spark.implicits._
    val t = synthConfTile(64, 64, 8).copy(minX = 0, minY = 0)
    val ds = spark.createDataset(Seq(t))
    // translate into negative territory: (-256, -128) world units
    val warped = RasterOps.warpTiles(spark, ds, 1, 0, -256, 0, 1, -128)
    assert(warped.head().minX === -256 && warped.head().minY === -128)
    // mosaic is the wrong tool for warped tiles — fails loud
    val err = intercept[org.apache.spark.SparkException] {
      RasterOps.mosaic(spark, warped, spec).collect()
    }
    assert(err.getMessage.contains("negative origin") ||
      Option(err.getCause).exists(_.getMessage.contains("negative origin")))
    // reassemble lands every pixel in the right signed cache cell
    val out = RasterOps.reassemble(spark, warped, cacheTileSize = 256).collect()
      .sortBy(o => (o.minY, o.minX))
    val mass = t.data.map(b => (b & 0xff).toLong).sum
    assert(out.map(_.data.map(b => (b & 0xff).toLong).sum).sum === mass)
    // tile spans x ∈ [-256, 256), y ∈ [-128, 384) → 2×3 cache cells
    assert(out.map(o => (o.minX, o.minY)).toSet ===
      Set((-256L, -256L), (0L, -256L), (-256L, 0L), (0L, 0L), (-256L, 256L), (0L, 256L)))
    // cache ids are distinct under the signed packing
    assert(out.map(_.tileId).distinct.length === out.length)
    // spot-check pixel placement: the warped tile starts at world
    // (-256, -128); inside cache cell (-256, -256) its paste offset is
    // (row (−128−(−256))/8 = 16, col 0), so warped pixel (0,0) — which
    // equals t.data(0) under an exact-multiple translation — lands at
    // canvas row 16, col 0 of the 32×32 cell
    val cell = out.find(o => o.minX == -256 && o.minY == -256).get
    assert(cell.cols === 32)
    assert(cell.data(16 * 32 + 0) === t.data(0))
  }

  test("mosaic fails loud on mixed-gsd tiles in one group") {
    import spark.implicits._
    val a = RasterOps.ConfTile(0, 0, 0, 0, 0, 128, 128, 8, new Array[Byte](128 * 128))
    val b = RasterOps.ConfTile(0, 1, 0, 0, 0, 256, 256, 4, new Array[Byte](256 * 256))
    val ds = spark.createDataset(Seq(a, b))
    val err = intercept[org.apache.spark.SparkException] {
      RasterOps.mosaic(spark, ds, spec).collect()
    }
    assert(err.getMessage.contains("mixes") || Option(err.getCause)
      .exists(_.getMessage.contains("mixes")))
  }

  private def synthConfTile(rows: Int, cols: Int, gsd: Int): RasterOps.ConfTile = {
    // deterministic non-trivial pattern with zero (nodata) patches
    val data = Array.tabulate(rows * cols) { i =>
      val r = i / cols; val c = i % cols
      if ((r / 7 + c / 5) % 3 == 0) 0.toByte else ((r * 31 + c * 17) % 251 + 1).toByte
    }
    RasterOps.ConfTile(region = 3, tileId = 12, classIdx = 1,
      minX = 2048, minY = 1024, rows = rows, cols = cols, gsd = gsd, data = data)
  }

  test("GeoTIFF: ConfTile → .tif → ConfTile round trip pixel-exact (plain + deflate + multi-tile)") {
    import graft.tables.GeoTiffIO
    for ((rows, cols, deflate) <- Seq((128, 128, false), (128, 128, true),
                                      (300, 520, false), (300, 520, true))) {
      val t = synthConfTile(rows, cols, 8)
      val back = GeoTiffIO.parse(GeoTiffIO.write(t, deflate = deflate))
      assert(back.region === t.region && back.tileId === t.tileId && back.classIdx === t.classIdx)
      assert(back.minX === t.minX && back.minY === t.minY)
      assert(back.rows === t.rows && back.cols === t.cols && back.gsd === t.gsd)
      assert(back.data sameElements t.data, s"pixels differ rows=$rows deflate=$deflate")
    }
  }

  test("GeoTIFF: header/tag layout follows TIFF 6.0 + GeoTIFF, committed golden byte hash") {
    import graft.tables.GeoTiffIO
    val bytes = GeoTiffIO.write(synthConfTile(128, 128, 8), deflate = false)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bytes(0) === 'I'.toByte && bytes(1) === 'I'.toByte && bb.getShort(2) === 42)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    val tags = (0 until n).map(i => bb.getShort(ifd + 2 + 12 * i) & 0xFFFF)
    assert(tags === tags.sorted, "IFD entries must be ascending by tag")
    assert(tags.contains(322) && tags.contains(33550) && tags.contains(33922) && tags.contains(34735))
    // the uncompressed writer is fully deterministic: committed golden
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(bytes).map("%02x".format(_)).mkString
    assert(hex === "c8823d362b6447af5b3bfaac06060b00" && bytes.length === 65892,
      s"writer bytes drifted: md5 $hex size ${bytes.length}")
  }

  test("GeoTIFF: truncated deflate stream fails loud; offsets stay word-aligned") {
    import graft.tables.GeoTiffIO
    val bytes = GeoTiffIO.write(synthConfTile(300, 520, 8), deflate = true)
    // all tile offsets even (TIFF 6.0 word alignment), even for
    // odd-length deflate payloads
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    val offCell = (0 until n).map(i => ifd + 2 + 12 * i)
      .find(e => (bb.getShort(e) & 0xFFFF) == 324).get + 8
    val cntCell = (0 until n).map(i => ifd + 2 + 12 * i)
      .find(e => (bb.getShort(e) & 0xFFFF) == 325).get + 8
    val tileCount = {
      val e = (0 until n).map(i => ifd + 2 + 12 * i)
        .find(e => (bb.getShort(e) & 0xFFFF) == 324).get
      bb.getInt(e + 4)
    }
    assert(tileCount === 6) // ceil(520/256) * ceil(300/256) = 3 * 2
    val offBase = bb.getInt(offCell)
    (0 until tileCount).foreach(i => assert(bb.getInt(offBase + 4 * i) % 2 === 0))
    // corrupt one tile's payload: zero out its tail -> require fires
    val cntBase = bb.getInt(cntCell)
    val o0 = bb.getInt(offBase)
    val c0 = bb.getInt(cntBase)
    val corrupt = bytes.clone()
    java.util.Arrays.fill(corrupt, o0 + c0 / 2, o0 + c0, 0.toByte)
    val err = intercept[IllegalArgumentException] { GeoTiffIO.parse(corrupt) }
    assert(err.getMessage.contains("deflate"))
  }

  /** Hand-assemble a STRIP-layout classic TIFF (tags 273/278/279) of a
    * ConfTile — the layout rasterio/GDAL default to for small rasters
    * (reference result/processedresult.py masks). `rowsPerStrip <= 0`
    * omits tag 278 entirely (TIFF 6.0 default: one strip of 2^32-1
    * rows). Spec-conformance builder, independent of the writer. */
  private def stripTiff(t: RasterOps.ConfTile, rowsPerStrip: Int,
                        deflate: Boolean): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val ydown = new Array[Byte](t.rows * t.cols)
    for (r <- 0 until t.rows)
      System.arraycopy(t.data, (t.rows - 1 - r) * t.cols, ydown, r * t.cols, t.cols)
    val rps = if (rowsPerStrip <= 0) t.rows else rowsPerStrip
    val nStrips = (t.rows + rps - 1) / rps
    val strips = (0 until nStrips).map { i =>
      val rowsIn = math.min(rps, t.rows - i * rps)
      val raw = java.util.Arrays.copyOfRange(ydown, i * rps * t.cols,
        i * rps * t.cols + rowsIn * t.cols)
      if (deflate) {
        val d = new java.util.zip.Deflater()
        d.setInput(raw); d.finish()
        val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
        var len = 0
        while (!d.finished()) len += d.deflate(buf, len, buf.length - len)
        d.end(); java.util.Arrays.copyOf(buf, len)
      } else raw
    }
    val desc = (s"graft ConfTile region=${t.region} tile=${t.tileId} " +
      s"class=${t.classIdx} gsd=${t.gsd} ").getBytes("US-ASCII")
    val scale = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    scale.putDouble(t.gsd.toDouble).putDouble(t.gsd.toDouble).putDouble(0.0)
    val tie = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
    tie.putDouble(0).putDouble(0).putDouble(0)
    tie.putDouble(t.minX.toDouble)
      .putDouble((t.minY + t.rows.toLong * t.gsd).toDouble).putDouble(0)

    // layout: header | strips (word-aligned) | externals | IFD
    var off = 8
    val stripOffs = strips.map { s => val o = off; off += s.length; if (off % 2 != 0) off += 1; o }
    def ext(bytes: Array[Byte]): Int = { val o = off; off += bytes.length; if (off % 2 != 0) off += 1; o }
    val descOff = ext(desc)
    val soOff = if (nStrips > 1) ext(new Array[Byte](4 * nStrips)) else -1
    val scOff = if (nStrips > 1) ext(new Array[Byte](4 * nStrips)) else -1
    val scaleOff = ext(scale.array()); val tieOff = ext(tie.array())
    val ifd = off
    // ascending tags: 256,257,258,259,262,270,273,277,278,279,33550,33922
    case class E(tag: Int, tpe: Int, count: Int, value: Int)
    val entries = Seq(
      E(256, 4, 1, t.cols), E(257, 4, 1, t.rows), E(258, 3, 1, 8),
      E(259, 3, 1, if (deflate) 8 else 1), E(262, 3, 1, 1),
      E(270, 2, desc.length, descOff),
      E(273, 4, nStrips, if (nStrips > 1) soOff else stripOffs.head),
      E(277, 3, 1, 1)) ++
      (if (rowsPerStrip > 0) Seq(E(278, 4, 1, rps)) else Nil) ++ Seq(
      E(279, 4, nStrips, if (nStrips > 1) scOff else strips.head.length),
      E(33550, 12, 3, scaleOff), E(33922, 12, 6, tieOff))
    val total = ifd + 2 + 12 * entries.size + 4
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifd)
    strips.zip(stripOffs).foreach { case (s, o) => buf.position(o); buf.put(s) }
    buf.position(descOff); buf.put(desc)
    if (nStrips > 1) {
      buf.position(soOff); stripOffs.foreach(buf.putInt)
      buf.position(scOff); strips.foreach(s => buf.putInt(s.length))
    }
    buf.position(scaleOff); buf.put(scale.array())
    buf.position(tieOff); buf.put(tie.array())
    buf.position(ifd); buf.putShort(entries.size.toShort)
    entries.foreach { e =>
      buf.putShort(e.tag.toShort).putShort(e.tpe.toShort).putInt(e.count)
      if (e.tpe == 3 && e.count == 1) { buf.putShort(e.value.toShort); buf.putShort(0) }
      else buf.putInt(e.value)
    }
    buf.putInt(0)
    buf.array()
  }

  test("GeoTIFF: STRIP layout parses identically to its tiled twin (plain + deflate + default RowsPerStrip)") {
    import graft.tables.GeoTiffIO
    val t = synthConfTile(300, 520, 8)
    val tiled = GeoTiffIO.parse(GeoTiffIO.write(t, deflate = false))
    for ((rps, deflate) <- Seq((64, false), (64, true), (7, false), (300, true), (-1, false))) {
      val back = GeoTiffIO.parse(stripTiff(t, rps, deflate))
      assert(back.region === tiled.region && back.tileId === tiled.tileId &&
        back.classIdx === tiled.classIdx, s"identity differs rps=$rps")
      assert(back.minX === tiled.minX && back.minY === tiled.minY &&
        back.rows === tiled.rows && back.cols === tiled.cols && back.gsd === tiled.gsd)
      assert(back.data sameElements tiled.data, s"pixels differ rps=$rps deflate=$deflate")
    }
    // corruption guards match the tiled path: truncated deflate strip fails loud
    val bytes = stripTiff(t, 64, deflate = true)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    def cell(tag: Int) = (0 until n).map(i => ifd + 2 + 12 * i)
      .find(e => (bb.getShort(e) & 0xFFFF) == tag).get + 8
    val o0 = bb.getInt(bb.getInt(cell(273)))
    val c0 = bb.getInt(bb.getInt(cell(279)))
    val corrupt = bytes.clone()
    java.util.Arrays.fill(corrupt, o0 + c0 / 2, o0 + c0, 0.toByte)
    val err = intercept[IllegalArgumentException] { GeoTiffIO.parse(corrupt) }
    assert(err.getMessage.contains("strip"))
    // and a wrong on-disk byte count fails loud on the uncompressed path
    val plain = stripTiff(t, 64, deflate = false)
    val pb = java.nio.ByteBuffer.wrap(plain).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pifd = pb.getInt(4)
    val pn = pb.getShort(pifd) & 0xFFFF
    val pCntCell = (0 until pn).map(i => pifd + 2 + 12 * i)
      .find(e => (pb.getShort(e) & 0xFFFF) == 279).get + 8
    pb.putInt(pb.getInt(pCntCell), 1) // first strip claims 1 byte
    val err2 = intercept[IllegalArgumentException] { GeoTiffIO.parse(pb.array()) }
    assert(err2.getMessage.contains("strip"))
  }

  test("GeoTIFF: STRIP layout fuzz — 40 random (dims, rows/strip, compression) configs round trip") {
    import graft.tables.GeoTiffIO
    val rnd = new scala.util.Random(1234) // seeded: deterministic corpus
    for (c <- 1 to 40) {
      val rows = 1 + rnd.nextInt(400)
      val cols = 1 + rnd.nextInt(400)
      val rps = if (rnd.nextBoolean()) -1 else 1 + rnd.nextInt(rows + 8) // > rows = one strip
      val deflate = rnd.nextBoolean()
      val t = RasterOps.ConfTile(region = c, tileId = c, classIdx = c % 2,
        minX = rnd.nextInt(4096), minY = rnd.nextInt(4096), rows = rows, cols = cols,
        gsd = 1 + rnd.nextInt(16),
        data = Array.tabulate(rows * cols)(i => ((i * 131 + c * 17) % 256).toByte))
      val back = GeoTiffIO.parse(stripTiff(t, rps, deflate))
      assert(back.rows === rows && back.cols === cols && back.gsd === t.gsd,
        s"cfg$c rows=$rows cols=$cols rps=$rps deflate=$deflate")
      assert(back.minX === t.minX && back.minY === t.minY, s"cfg$c georef")
      assert(back.data sameElements t.data, s"cfg$c pixels rps=$rps deflate=$deflate")
    }
  }

  test("GeoTIFF: BigTIFF guard — oversized write fails loud before touching pixel data") {
    // a raster whose padded payload would exceed the classic-TIFF /
    // single-buffer bound must be rejected up front (offsets would
    // silently truncate into a corrupt file). The guard fires before
    // any data access, so empty data stands in for the 2 GiB array.
    import graft.tables.GeoTiffIO
    val huge = RasterOps.ConfTile(0, 0, 0, 0, 0, rows = 47000, cols = 47000,
      gsd = 1, data = Array.emptyByteArray)
    val err = intercept[IllegalArgumentException] { GeoTiffIO.write(huge) }
    assert(err.getMessage.contains("2 GiB") && err.getMessage.contains("BigTIFF"))
  }

  test("GeoTIFF table sink/source: distributed write + scan round trip over the mosaic") {
    import graft.tables.GeoTiffIO
    val tiles = RasterOps.mosaic(spark,
      RasterOps.confidenceTiles(spark, crowns, spec), spec)
    val expect = tiles.collect().sortBy(t => (t.region, t.classIdx, t.tileId))
    // every file holds exactly GeoTiffIO.write's bytes, the directory
    // holds only .tif files (no .crc siblings), and a second write into
    // the same directory overwrites in place
    def checkFiles(dir: java.nio.file.Path): Unit = {
      val names = dir.toFile.list().toSet
      assert(names.size === expect.length && names.forall(_.endsWith(".tif")), names)
      expect.foreach { t =>
        val f = dir.resolve(s"r${t.region}_c${t.classIdx}_t${t.tileId}.tif")
        assert(java.nio.file.Files.readAllBytes(f) sameElements GeoTiffIO.write(t, deflate = true))
      }
    }
    val plain = java.nio.file.Files.createTempDirectory("gtif")
    val uri = java.nio.file.Files.createTempDirectory("gtif-uri")
    for ((dir, target) <- Seq(plain -> plain.toString, uri -> uri.toUri.toString)) {
      GeoTiffIO.writeTable(tiles, target)
      checkFiles(dir)
      GeoTiffIO.writeTable(tiles, target)
      checkFiles(dir)
      val back = GeoTiffIO.readTable(spark, target).collect()
        .sortBy(t => (t.region, t.classIdx, t.tileId))
      assert(back.length === expect.length)
      back.zip(expect).foreach { case (b, e) =>
        assert(b.minX === e.minX && b.minY === e.minY && b.gsd === e.gsd)
        assert(b.data sameElements e.data)
      }
    }
  }

  test("GeoTIFF table sink: an empty write leaves a directory that scans as 0 rows") {
    import graft.tables.GeoTiffIO
    val dir = java.nio.file.Files.createTempDirectory("gtif-empty").resolve("masks")
    GeoTiffIO.writeTable(spark.emptyDataset[RasterOps.ConfTile], dir.toString)
    assert(java.nio.file.Files.isDirectory(dir))
    assert(GeoTiffIO.readTable(spark, dir.toString).count() === 0L)
  }
}
