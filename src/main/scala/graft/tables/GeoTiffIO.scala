package graft.tables

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RasterOps.ConfTile

/** GeoTIFF raster sink/source (S7/S10) — the reference's primary raster
  * format: rasterio writes tiled uint8 GTiff cache tiles with a derived
  * affine transform and nodata 0 (cache/semantic.py:157-255), and the
  * affine/tiepoint semantics are documented in docs/cache.md:70-120.
  * This is a from-scratch implementation of the PUBLIC TIFF 6.0 spec
  * (Adobe, 1992) + GeoTIFF 1.1 (OGC 19-008r4) — no imaging libraries:
  *
  *   - classic little-endian TIFF ("II", magic 42), single IFD
  *   - tiled layout (tags 322/323/324/325), tile dims multiple of 16,
  *     edge tiles zero-padded (zero = the declared nodata); the READER
  *     additionally accepts STRIP layout (tags 273/278/279) —
  *     rasterio/GDAL's default for small rasters, e.g. the reference's
  *     result/processedresult.py:121-171 masks
  *   - uint8 single band (258=8, 277=1, 339=1), BlackIsZero (262=1)
  *   - Compression 1 (none) or 8 (Adobe deflate/zlib)
  *   - georeferencing via ModelPixelScaleTag (33550) + ModelTiepointTag
  *     (33922): north-up, pixel scale (gsd, gsd), raster (0,0) tied to
  *     world (minX, maxY) — the same negative-y-scale affine rasterio
  *     prints in docs/cache.md
  *   - GeoKeyDirectoryTag (34735) with GTModelType=1 (projected),
  *     GTRasterType=1 (PixelIsArea), user-defined CRS (the engine's
  *     world grid carries no EPSG identity)
  *   - GDAL_NODATA (42113) = "0" matching the reference's nodata
  *   - ImageDescription (270) carries region/tile/class identity so a
  *     ConfTile round-trips losslessly through a standalone file
  *
  * ConfTile rows are y-up (row 0 at minY); TIFF scanlines are y-down —
  * the writer/reader flip rows so the on-disk file is a conventional
  * north-up GeoTIFF any GIS stack reads with the documented transform.
  *
  * Scale shape: like shapefiles, one .tif is a per-tile artifact; the
  * Spark path parallelizes across files (`writeTable` writes one file
  * per ConfTile inside foreachPartition — java.nio for local paths, the
  * Hadoop FS otherwise — and `readTable` is a distributed binaryFile
  * scan + in-task parse).
  */
object GeoTiffIO {

  private val TagWidth = 256
  private val TagLength = 257
  private val TagBits = 258
  private val TagCompression = 259
  private val TagPhotometric = 262
  private val TagDescription = 270
  private val TagSamples = 277
  private val TagStripOffsets = 273
  private val TagRowsPerStrip = 278
  private val TagStripCounts = 279
  private val TagTileWidth = 322
  private val TagTileLength = 323
  private val TagTileOffsets = 324
  private val TagTileCounts = 325
  private val TagSampleFormat = 339
  private val TagPixelScale = 33550
  private val TagTiepoint = 33922
  private val TagGeoKeys = 34735
  private val TagNodata = 42113

  private val TShort = 3
  private val TLong = 4
  private val TAscii = 2
  private val TDouble = 12

  private final case class Entry(tag: Int, tpe: Int, count: Int, inline: Option[Long],
                                 payload: Option[Array[Byte]])

  /** Serialize one ConfTile as a tiled GeoTIFF. `tiffTile` must be a
    * multiple of 16 (TIFF §15); deflate = Compression 8. */
  def write(t: ConfTile, tiffTile: Int = 256, deflate: Boolean = false): Array[Byte] = {
    require(tiffTile > 0 && tiffTile % 16 == 0, s"TIFF tile size $tiffTile not a multiple of 16")
    val tilesAcross = (t.cols + tiffTile - 1) / tiffTile
    val tilesDown = (t.rows + tiffTile - 1) / tiffTile
    // BigTIFF guard, checked BEFORE assembling ~payload-sized buffers:
    // classic TIFF carries 32-bit offsets (4 GiB), and this writer
    // indexes one ByteBuffer (2 GiB) — a raster whose zero-padded tile
    // payload alone busts that must fail loud up front, not truncate
    // offsets into a corrupt file. Split such rasters into more
    // ConfTiles (BigTIFF is deliberately not implemented).
    val paddedBytes = tilesAcross.toLong * tilesDown * tiffTile * tiffTile
    require(paddedBytes < Int.MaxValue - (1 << 16),
      s"raster ${t.rows}x${t.cols} pads to $paddedBytes tile bytes — over the " +
        "classic-TIFF/single-buffer 2 GiB limit; split into smaller tiles " +
        "(no BigTIFF support)")
    // assemble per-tile payloads (row-flipped to north-up, zero-padded)
    val tiles = for {
      ty <- 0 until tilesDown
      tx <- 0 until tilesAcross
    } yield {
      val raw = new Array[Byte](tiffTile * tiffTile)
      var r = 0
      while (r < tiffTile) {
        val imgRow = ty * tiffTile + r // tiff row from top
        if (imgRow < t.rows) {
          val srcRow = t.rows - 1 - imgRow // ConfTile row (y-up)
          val c0 = tx * tiffTile
          val n = math.min(tiffTile, t.cols - c0)
          if (n > 0) System.arraycopy(t.data, srcRow * t.cols + c0, raw, r * tiffTile, n)
        }
        r += 1
      }
      if (deflate) {
        // BEST_SPEED: the payload is a sparse uint8 confidence plane
        // (mostly zero runs) where level 1 compresses within a few % of
        // level 6 at a fraction of the CPU; any zlib level inflates to
        // the identical pixels, so readers (and the pinned round-trip
        // hash, which covers decoded px sums) are unaffected.
        val d = new Deflater(Deflater.BEST_SPEED)
        d.setInput(raw); d.finish()
        // Proper deflate bound: zlib worst case (stored blocks) is
        // ~6 + 5*ceil(len/65535) bytes of overhead — a fixed +64 slack
        // underflows once tiles reach 1 MiB of incompressible data,
        // and deflate() then returns 0 forever (infinite loop).
        val bound = raw.length + raw.length / 1000 + 12 + 5 * ((raw.length + 65534) / 65535)
        val buf = new Array[Byte](bound)
        var len = 0
        while (!d.finished()) len += d.deflate(buf, len, buf.length - len)
        d.end()
        java.util.Arrays.copyOf(buf, len)
      } else raw
    }

    // data layout: header(8) | tile payloads | external arrays | IFD.
    // Every offset is kept EVEN (TIFF 6.0 requires word-aligned
    // offsets): deflated payloads are frequently odd-length, so each
    // payload region is padded to even before the next begins.
    var off = 8L
    val tileOffsets = tiles.map { p =>
      val o = off
      off += p.length
      if (off % 2 != 0) off += 1
      o
    }
    val externalsStart = off

    val desc = (s"graft ConfTile region=${t.region} tile=${t.tileId} " +
      s"class=${t.classIdx} gsd=${t.gsd}\u0000").getBytes("US-ASCII")
    val nodata = "0\u0000".getBytes("US-ASCII")
    val scale = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    scale.putDouble(t.gsd.toDouble).putDouble(t.gsd.toDouble).putDouble(0.0)
    val maxY = t.minY + t.rows.toLong * t.gsd
    val tie = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
    tie.putDouble(0).putDouble(0).putDouble(0)
    tie.putDouble(t.minX.toDouble).putDouble(maxY.toDouble).putDouble(0)
    val geoKeys = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    // KeyDirectoryVersion, KeyRevision, MinorRevision, NumberOfKeys
    Seq(1, 1, 0, 3, /* GTModelType */ 1024, 0, 1, 1,
      /* GTRasterType: PixelIsArea */ 1025, 0, 1, 1,
      /* ProjectedCRS: user-defined */ 3072, 0, 1, 32767)
      .foreach(v => geoKeys.putShort(v.toShort))

    def shortEntry(tag: Int, v: Int) = Entry(tag, TShort, 1, Some(v.toLong), None)
    def longEntry(tag: Int, v: Long) = Entry(tag, TLong, 1, Some(v), None)
    def arrEntry(tag: Int, tpe: Int, count: Int, bytes: Array[Byte]) =
      Entry(tag, tpe, count, None, Some(bytes))

    val offsetsBytes = ByteBuffer.allocate(4 * tiles.size).order(ByteOrder.LITTLE_ENDIAN)
    tileOffsets.foreach(o => offsetsBytes.putInt(o.toInt))
    val countsBytes = ByteBuffer.allocate(4 * tiles.size).order(ByteOrder.LITTLE_ENDIAN)
    tiles.foreach(p => countsBytes.putInt(p.length))

    val entries = Seq(
      longEntry(TagWidth, t.cols.toLong),
      longEntry(TagLength, t.rows.toLong),
      shortEntry(TagBits, 8),
      shortEntry(TagCompression, if (deflate) 8 else 1),
      shortEntry(TagPhotometric, 1),
      arrEntry(TagDescription, TAscii, desc.length, desc),
      shortEntry(TagSamples, 1),
      longEntry(TagTileWidth, tiffTile.toLong),
      longEntry(TagTileLength, tiffTile.toLong),
      if (tiles.size == 1) longEntry(TagTileOffsets, tileOffsets.head)
      else arrEntry(TagTileOffsets, TLong, tiles.size, offsetsBytes.array()),
      if (tiles.size == 1) longEntry(TagTileCounts, tiles.head.length.toLong)
      else arrEntry(TagTileCounts, TLong, tiles.size, countsBytes.array()),
      shortEntry(TagSampleFormat, 1),
      arrEntry(TagPixelScale, TDouble, 3, scale.array()),
      arrEntry(TagTiepoint, TDouble, 6, tie.array()),
      arrEntry(TagGeoKeys, TShort, 16, geoKeys.array()),
      arrEntry(TagNodata, TAscii, nodata.length, nodata))

    // place external payloads (entries needing > 4 bytes)
    var extOff = externalsStart
    val placed = entries.map { e =>
      e.payload match {
        case Some(p) if p.length > 4 =>
          val o = extOff
          extOff += p.length
          if (extOff % 2 != 0) extOff += 1 // keep offsets word-aligned
          (e, Some(o))
        case _ => (e, None)
      }
    }
    val ifdOff = extOff
    val total = ifdOff + 2 + 12 * entries.size + 4
    // Classic TIFF carries 32-bit offsets (the 4 GiB contract, TIFF 6.0
    // §2); this writer additionally indexes through a single ByteBuffer,
    // so fail LOUD at 2 GiB rather than silently truncating offsets into
    // a corrupt file. Per-tile mosaic artifacts never get near this;
    // a larger raster should be split into more ConfTiles (BigTIFF is
    // deliberately not implemented).
    require(total < Int.MaxValue,
      s"TIFF payload $total bytes exceeds the classic-TIFF/single-buffer " +
        "2 GiB limit — split the raster into smaller tiles (no BigTIFF support)")
    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff.toInt)
    tiles.zip(tileOffsets).foreach { case (p, o) => buf.position(o.toInt); buf.put(p) }
    placed.foreach { case (e, exto) =>
      exto.foreach { o => buf.position(o.toInt); buf.put(e.payload.get) }
    }
    buf.position(ifdOff.toInt)
    buf.putShort(entries.size.toShort)
    placed.foreach { case (e, exto) =>
      buf.putShort(e.tag.toShort).putShort(e.tpe.toShort).putInt(e.count)
      (e.inline, e.payload, exto) match {
        case (Some(v), _, _) =>
          if (e.tpe == TShort) { buf.putShort(v.toShort); buf.putShort(0) }
          else buf.putInt(v.toInt)
        case (_, Some(p), None) => // short payload fits inline
          val cell = java.util.Arrays.copyOf(p, 4)
          buf.put(cell)
        case (_, _, Some(o)) => buf.putInt(o.toInt)
        case _ => buf.putInt(0)
      }
    }
    buf.putInt(0) // no next IFD
    buf.array()
  }

  /** A parsed GeoTIFF: identity (from ImageDescription when written by
    * this sink; zeros otherwise) + geometry + y-up pixel data. */
  def parse(bytes: Array[Byte]): ConfTile = {
    val buf = ByteBuffer.wrap(bytes)
    require(bytes.length >= 8 && bytes(0) == 'I' && bytes(1) == 'I',
      "only little-endian classic TIFF supported")
    buf.order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getShort(2) == 42, "bad TIFF magic")
    val ifd = buf.getInt(4)
    val n = buf.getShort(ifd) & 0xFFFF
    var tags = Map.empty[Int, (Int, Int, Int)] // tag -> (type, count, valueCell offset)
    for (i <- 0 until n) {
      val e = ifd + 2 + 12 * i
      tags += (buf.getShort(e) & 0xFFFF) -> ((buf.getShort(e + 2) & 0xFFFF, buf.getInt(e + 4), e + 8))
    }
    def typeSize(t: Int) = t match {
      case TShort => 2; case TLong => 4; case TDouble => 8; case TAscii => 1
      case other => throw new IllegalArgumentException(s"unsupported TIFF type $other")
    }
    def values(tag: Int): Array[Long] = tags.get(tag) match {
      case None => Array.empty
      case Some((tpe, count, cell)) =>
        val sz = typeSize(tpe)
        val base = if (sz.toLong * count <= 4) cell else buf.getInt(cell)
        Array.tabulate(count) { i =>
          tpe match {
            case TShort => (buf.getShort(base + 2 * i) & 0xFFFF).toLong
            case TLong => buf.getInt(base + 4 * i).toLong & 0xFFFFFFFFL
            case TAscii => bytes(base + i).toLong
            case TDouble => java.lang.Double.doubleToRawLongBits(buf.getDouble(base + 8 * i))
          }
        }
    }
    def doubles(tag: Int): Array[Double] = values(tag).map(java.lang.Double.longBitsToDouble)
    def one(tag: Int, default: Long = 0): Long = values(tag).headOption.getOrElse(default)
    def ascii(tag: Int): String =
      new String(values(tag).map(_.toByte), "US-ASCII").takeWhile(_ != '\u0000')

    val width = one(TagWidth).toInt
    val height = one(TagLength).toInt
    require(one(TagBits, 8) == 8 && one(TagSamples, 1) == 1, "only single-band uint8 supported")
    val compression = one(TagCompression, 1).toInt
    require(compression == 1 || compression == 8, s"unsupported compression $compression")
    // decode one tile/strip payload to exactly `expectedLen` bytes,
    // with the same fail-loud corruption guards in both layouts
    def chunk(i: Long, off: Long, cnt: Long, expectedLen: Int, what: String): Array[Byte] =
      if (compression == 1) {
        require(cnt == expectedLen,
          s"corrupt $what $i: $cnt bytes on disk, expected $expectedLen")
        java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
      } else {
        val inf = new Inflater()
        inf.setInput(bytes, off.toInt, cnt.toInt)
        val out = new Array[Byte](expectedLen)
        var len = 0
        var stalled = false
        try {
          while (!inf.finished() && len < out.length && !stalled) {
            val got = inf.inflate(out, len, out.length - len)
            if (got == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
            len += got
          }
          // force trailer validation: zlib's adler32 is only checked
          // when the END of the stream is consumed — without this,
          // corruption that still inflates to exactly expectedLen bytes
          // (e.g. a flipped byte in a stored block) would pass
          if (!stalled && len == out.length && !inf.finished()) {
            inf.inflate(new Array[Byte](1))
            if (!inf.finished()) stalled = true // trailer truncated
          }
        } catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"corrupt deflate $what $i: ${e.getMessage}")
        } finally inf.end()
        // a truncated/corrupt stream must FAIL LOUD like every other
        // malformed input here — silently returning a partially-zero
        // tile would fabricate pixel data indistinguishable from nodata
        require(!stalled && len == out.length,
          s"corrupt deflate $what $i: inflated $len of ${out.length} bytes")
        out
      }

    val tw = one(TagTileWidth).toInt
    val th = one(TagTileLength).toInt
    val data = new Array[Byte](width * height) // y-down while assembling
    if (tw > 0 && th > 0) {
      // tiled layout (tags 322-325) — what this sink writes
      val offsets = values(TagTileOffsets)
      val counts = values(TagTileCounts)
      val tilesAcross = (width + tw - 1) / tw
      offsets.indices.foreach { i =>
        val raw = chunk(i.toLong, offsets(i), counts(i), tw * th, "tile")
        val ty = i / tilesAcross
        val tx = i % tilesAcross
        var r = 0
        while (r < th) {
          val imgRow = ty * th + r
          if (imgRow < height) {
            val c0 = tx * tw
            val m = math.min(tw, width - c0)
            if (m > 0) System.arraycopy(raw, r * tw, data, imgRow * width + c0, m)
          }
          r += 1
        }
      }
    } else {
      // STRIP layout (tags 273/278/279) — rasterio/GDAL's default for
      // small rasters, e.g. the reference's processedresult.py masks.
      // RowsPerStrip defaults to "all rows in one strip" (TIFF 6.0:
      // default is 2^32-1, i.e. effectively infinity).
      val offsets = values(TagStripOffsets)
      val counts = values(TagStripCounts)
      require(offsets.nonEmpty, "TIFF has neither tile nor strip layout")
      require(counts.length == offsets.length,
        s"StripByteCounts has ${counts.length} entries for ${offsets.length} strips")
      val rps = math.min(one(TagRowsPerStrip, 0xFFFFFFFFL), height.toLong).toInt
      require(rps > 0, s"bad RowsPerStrip $rps")
      val nStrips = (height + rps - 1) / rps
      require(offsets.length == nStrips,
        s"${offsets.length} strips for $height rows at $rps rows/strip (want $nStrips)")
      offsets.indices.foreach { i =>
        val rowsIn = math.min(rps, height - i * rps)
        val raw = chunk(i.toLong, offsets(i), counts(i), rowsIn * width, "strip")
        System.arraycopy(raw, 0, data, i * rps * width, rowsIn * width)
      }
    }
    // flip back to the engine's y-up rows
    val up = new Array[Byte](data.length)
    var r = 0
    while (r < height) {
      System.arraycopy(data, (height - 1 - r) * width, up, r * width, width)
      r += 1
    }
    val scale = doubles(TagPixelScale)
    val tie = doubles(TagTiepoint)
    val gsd = if (scale.nonEmpty) math.round(scale(0)).toInt else 1
    val (minX, minY) = if (tie.length >= 6) {
      (math.round(tie(3)), math.round(tie(4)) - height.toLong * gsd)
    } else (0L, 0L)
    // identity from our ImageDescription, zeros for foreign files
    val descr = ascii(TagDescription)
    def field(k: String): Long =
      "(?s).*\\b%s=(-?\\d+).*".format(k).r.findFirstMatchIn(descr) match {
        case Some(m) => m.group(1).toLong
        case None => 0L
      }
    ConfTile(field("region"), field("tile"), field("class").toInt,
      minX, minY, height, width, gsd, up)
  }

  /** Mosaic sink: one GeoTIFF per ConfTile under `dir`, written inside
    * foreachPartition (no driver collect). File name carries the
    * identity triple; an existing file is overwritten. `dir` is created
    * on the driver before the job, so an empty Dataset still leaves a
    * directory that [[readTable]] scans as 0 rows.
    *
    * A local target (`file:` scheme, or no scheme over a local default
    * filesystem) is written with java.nio, not the Hadoop FS: without
    * the native Hadoop library, its local filesystem sets every new
    * file's permissions by launching a `chmod` process (one per tile,
    * which dominated this sink's wall time), and its checksum layer
    * adds a `.crc` sibling per file that the scan never reads. Every
    * other scheme (HDFS, S3, ...) goes through the Hadoop FS. */
  def writeTable(tiles: Dataset[ConfTile], dir: String, deflate: Boolean = true): Unit = {
    val spark = tiles.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val scheme = Option(base.toUri.getScheme)
      .getOrElse(org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") {
      val local = base.toUri.getPath
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(local))
      tiles.foreachPartition { (it: Iterator[ConfTile]) =>
        it.foreach { t =>
          java.nio.file.Files.write(java.nio.file.Paths.get(local, fileName(t)),
            write(t, deflate = deflate))
        }
      }
    } else {
      base.getFileSystem(conf).mkdirs(base)
      val bc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(conf))
      tiles.foreachPartition { (it: Iterator[ConfTile]) =>
        if (it.hasNext) {
          // a PRIVATE FileSystem instance (not the JVM-wide cached one):
          // checksum filesystems otherwise write a .crc sibling per .tif
          // (double the file count + a CRC pass over every payload byte)
          // that the binaryFile re-scan never reads — but flipping
          // setWriteChecksum on the SHARED cached instance would leak the
          // setting into every other writer in the session, so the
          // instance is scoped to this task and closed.
          val fs = org.apache.hadoop.fs.FileSystem.newInstance(
            base.toUri, bc.value.value)
          try {
            fs.setWriteChecksum(false)
            it.foreach { t =>
              val out = fs.create(new org.apache.hadoop.fs.Path(base, fileName(t)), true)
              try out.write(write(t, deflate = deflate)) finally out.close()
            }
          } finally fs.close()
        }
      }
    }
  }

  private def fileName(t: ConfTile): String = s"r${t.region}_c${t.classIdx}_t${t.tileId}.tif"

  /** Distributed scan over a directory of .tif files (same shape as
    * ShapefileIO.readTable): binaryFile listing + in-task parse. */
  def readTable(spark: SparkSession, dir: String): Dataset[ConfTile] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", "*.tif").load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .map(parse _)
  }
}
