package graft.tables

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary ESRI shapefile source/sink (S5) — the reference loads crown
  * shapefiles through fiona (result/instancesegmentationresult.py:
  * 143-190 `load_shapefile`); this is a from-scratch reader/writer of
  * the PUBLIC shapefile spec (ESRI Shapefile Technical Description,
  * 1998): 100-byte header (file code 9994 big-endian, version 1000 +
  * shape type little-endian, bbox doubles), then per-record big-endian
  * (number, content length in 16-bit words) headers and little-endian
  * Polygon (type 5) payloads — bbox, numParts, numPoints, ring part
  * offsets, xy points. Rings follow shapefile convention: outer rings
  * clockwise, holes counter-clockwise.
  *
  * A shapefile is really a file TRIO; both sidecars are covered here:
  *   - `.shx` (same ESRI spec, §"Index File"): the 100-byte header
  *     again, then per record (offset in 16-bit words from file start,
  *     content length in words) both big-endian — random access for
  *     GIS consumers; QGIS/ogr refuse a bare .shp without it.
  *   - `.dbf` (dBASE III, public Xbase spec): attribute table. Header
  *     byte 0 = 0x03, update date, record count (LE u32), header/record
  *     sizes (LE u16), then 32-byte field descriptors (11-byte name,
  *     type char C/N/F/L/D, length, decimal count) closed by 0x0D;
  *     rows are fixed-width ASCII, each led by a deletion flag byte,
  *     file closed by 0x1A. Row i (0-based) carries the attributes of
  *     shp record i (in file order).
  *
  * Field layouts mirror fiona/GDAL defaults (str→C:80, int→N:18.0,
  * float→N:24.15) so outputs match what the reference's fiona writer
  * produces; the two reference property schemas are provided as
  * presets (`InstanceFields` from instancesegmentationresult.py:51-59,
  * `MergeFields` from scripts/merge.py:196-205, field order preserved).
  *
  * Scale shape: one .shp is a driver-side artifact (the reference's
  * per-image output). The Spark path parallelizes ACROSS files —
  * `readTable` lists a directory and parses each file inside
  * mapPartitions, so a million shapefiles fan out as a normal
  * distributed scan; a single shapefile is not splittable (records are
  * variable-length back-to-back), which is inherent to the format.
  * Attributes ride along WITHOUT a shuffle: each task opens the .dbf
  * sitting beside its .shp through the Hadoop filesystem, so the
  * geometry↔attribute pairing never crosses the wire.
  */
object ShapefileIO {

  final case class ShpRecord(recordNum: Int, rings: Seq[Array[Double]])

  /** dBASE field descriptor: `ftype` C (char), N (numeric), F (float),
    * L (logical) or D (date); `decimals` only meaningful for N/F. */
  final case class DbfField(name: String, ftype: Char, length: Int, decimals: Int) {
    require(length > 0 && length <= 254, s"dbf field length $length out of range")
  }

  object DbfField {
    def str(name: String, len: Int = 80): DbfField = DbfField(name, 'C', len, 0)
    def int(name: String, len: Int = 18): DbfField = DbfField(name, 'N', len, 0)
    def dbl(name: String, len: Int = 24, dec: Int = 15): DbfField = DbfField(name, 'N', len, dec)
  }

  /** Property schema of the reference's per-image instance export
    * (result/instancesegmentationresult.py:51-59, fiona field order). */
  val InstanceFields: Seq[DbfField] = Seq(
    DbfField.dbl("score"), DbfField.str("class"),
    DbfField.int("class_idx"), DbfField.int("id"))

  /** Property schema of the reference's cross-image merge export
    * (scripts/merge.py:196-205, fiona field order). */
  val MergeFields: Seq[DbfField] = Seq(
    DbfField.str("id"), DbfField.dbl("area"), DbfField.dbl("perimeter"),
    DbfField.dbl("score"), DbfField.int("class"))

  private val FileCode = 9994
  private val Version = 1000
  private val PolygonType = 5

  /** Parse a polygon shapefile from bytes. */
  def parse(bytes: Array[Byte]): Seq[ShpRecord] = {
    val buf = ByteBuffer.wrap(bytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt(0) == FileCode, s"not a shapefile (file code ${buf.getInt(0)})")
    val fileWords = buf.getInt(24) // length in 16-bit words, header included
    buf.order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt(28) == Version, "unsupported shapefile version")
    val shapeType = buf.getInt(32)
    require(shapeType == PolygonType || shapeType == 0,
      s"only Polygon (5) shapefiles supported, got type $shapeType")

    val out = Seq.newBuilder[ShpRecord]
    var pos = 100
    // length math in Long: fileWords * 2 overflows Int past 1 GiB
    val end = math.min(bytes.length.toLong, fileWords.toLong * 2).toInt
    while (pos + 8 <= end) {
      buf.order(ByteOrder.BIG_ENDIAN)
      val recNum = buf.getInt(pos)
      val contentWords = buf.getInt(pos + 4)
      val content = pos + 8
      // malformed header guard: content length below the 4-byte shape
      // type, or running past the buffer, would stall or overrun the
      // scan — fail loudly rather than return the records before it
      if (contentWords < 2 || content.toLong + contentWords.toLong * 2 > end)
        throw new IllegalArgumentException(s"malformed .shp record $recNum at byte $pos: " +
          s"$contentWords content words do not fit before byte $end")
      buf.order(ByteOrder.LITTLE_ENDIAN)
      val recType = buf.getInt(content)
      if (recType == PolygonType) {
        val numParts = buf.getInt(content + 36)
        val numPoints = buf.getInt(content + 40)
        // body-level guard: corrupt part/point counts would otherwise
        // allocate huge arrays or read the NEXT record's bytes as
        // coordinates — fail loudly like the header guard
        if (numParts < 0 || numPoints < 0 ||
            4L + 40L + 4L * numParts + 16L * numPoints > contentWords.toLong * 2)
          throw new IllegalArgumentException(s"malformed .shp record $recNum at byte $pos: " +
            s"$numParts parts and $numPoints points do not fit in $contentWords content words")
        val partsOff = content + 44
        val pointsOff = partsOff + 4 * numParts
        val starts = Array.tabulate(numParts)(p => buf.getInt(partsOff + 4 * p))
        // part offsets must be a non-decreasing sequence inside
        // [0, numPoints] — anything else reads header/neighbor bytes
        // as coordinates or throws on a negative ring size
        var prev = 0
        var pi = 0
        var startsOk = true
        while (pi < numParts) {
          val s0 = starts(pi)
          if (s0 < prev || s0 > numPoints) startsOk = false
          prev = math.max(prev, s0)
          pi += 1
        }
        if (!startsOk)
          throw new IllegalArgumentException(s"malformed .shp record $recNum at byte $pos: " +
            s"part offsets ${starts.mkString(",")} outside [0, $numPoints] or decreasing")
        val rings = (0 until numParts).map { p =>
          val from = starts(p)
          val until = if (p + 1 < numParts) starts(p + 1) else numPoints
          // shapefile rings repeat the first point at the end; the
          // engine's flat-ring convention does not. Only drop the
          // closing vertex when it actually bit-equals the first —
          // a spec-violating unclosed ring from another writer keeps
          // all n points instead of silently losing a real vertex.
          val n = until - from
          val closed = n > 1 &&
            buf.getDouble(pointsOff + 16 * from) == buf.getDouble(pointsOff + 16 * (from + n - 1)) &&
            buf.getDouble(pointsOff + 16 * from + 8) == buf.getDouble(pointsOff + 16 * (from + n - 1) + 8)
          val m = if (closed) n - 1 else n
          val ring = new Array[Double](2 * m)
          var k = 0
          while (k < m) {
            ring(2 * k) = buf.getDouble(pointsOff + 16 * (from + k))
            ring(2 * k + 1) = buf.getDouble(pointsOff + 16 * (from + k) + 8)
            k += 1
          }
          ring
        }
        out += ShpRecord(recNum, rings)
      }
      pos = content + contentWords * 2
    }
    out.result()
  }

  def read(path: String): Seq[ShpRecord] = parse(Files.readAllBytes(Paths.get(path)))

  /** Serialize polygon records to shapefile bytes (round-trip tested).
    * Rings are written as given; callers follow the CW-outer/CCW-hole
    * convention for interoperability. Degenerate rings (< 3 vertices)
    * are dropped; a record left ringless — e.g. a MergedCrown produced
    * with emitGeom = false — becomes a spec-legal Null Shape (type 0)
    * record instead of crashing the writer. */
  def write(records: Seq[ShpRecord]): Array[Byte] = assembleShp(records, recordBodies(records))

  /** Per-record little-endian content payloads (shared by .shp and .shx
    * assembly so the index offsets always agree with the data file). */
  private def recordBodies(records: Seq[ShpRecord]): Seq[(Int, Array[Byte])] = {
    records.map { r0 =>
      val rings = r0.rings.filter(_.length >= 6)
      if (rings.isEmpty) {
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(0) // Null Shape
        (r0.recordNum, b.array())
      } else {
        val numPoints = rings.map(_.length / 2 + 1).sum // +1: close each ring
        val contentBytes = 4 + 32 + 4 + 4 + 4 * rings.size + 16 * numPoints
        val b = ByteBuffer.allocate(contentBytes).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(PolygonType)
        val xs = rings.flatMap(_.grouped(2).map(_(0)))
        val ys = rings.flatMap(_.grouped(2).map(_(1)))
        b.putDouble(xs.min); b.putDouble(ys.min); b.putDouble(xs.max); b.putDouble(ys.max)
        b.putInt(rings.size); b.putInt(numPoints)
        var start = 0
        rings.foreach { ring => b.putInt(start); start += ring.length / 2 + 1 }
        rings.foreach { ring =>
          var k = 0
          while (k < ring.length / 2) {
            b.putDouble(ring(2 * k)); b.putDouble(ring(2 * k + 1)); k += 1
          }
          b.putDouble(ring(0)); b.putDouble(ring(1)) // close the ring
        }
        (r0.recordNum, b.array())
      }
    }
  }

  /** The shared 100-byte header (.shp and .shx differ only in the file
    * length field, which counts their own 16-bit words). */
  private def putHeader(buf: ByteBuffer, records: Seq[ShpRecord], totalBytes: Int): Unit = {
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(FileCode); buf.position(24); buf.putInt(totalBytes / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Version); buf.putInt(PolygonType)
    val written = records.flatMap(_.rings.filter(_.length >= 6))
    val allX = written.flatMap(_.grouped(2).map(_(0)))
    val allY = written.flatMap(_.grouped(2).map(_(1)))
    if (allX.nonEmpty) {
      buf.putDouble(allX.min); buf.putDouble(allY.min)
      buf.putDouble(allX.max); buf.putDouble(allY.max)
    } else buf.position(buf.position() + 32)
    buf.position(100)
  }

  private def assembleShp(records: Seq[ShpRecord], bodies: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val totalBytes = 100 + bodies.map(8 + _._2.length).sum
    val buf = ByteBuffer.allocate(totalBytes)
    putHeader(buf, records, totalBytes)
    bodies.foreach { case (num, body) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(num); buf.putInt(body.length / 2)
      buf.put(body)
    }
    buf.array()
  }

  /** The .shx index: per record (offset words, content-length words),
    * offsets pointing at the record HEADER in the .shp (spec §Index
    * File; first record offset is always 50 = the 100-byte header). */
  def writeShx(records: Seq[ShpRecord]): Array[Byte] =
    writeShx(records, recordBodies(records))

  private def writeShx(records: Seq[ShpRecord], bodies: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val totalBytes = 100 + 8 * bodies.size
    val buf = ByteBuffer.allocate(totalBytes)
    putHeader(buf, records, totalBytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    var offsetWords = 50
    bodies.foreach { case (_, body) =>
      buf.putInt(offsetWords); buf.putInt(body.length / 2)
      offsetWords += 4 + body.length / 2
    }
    buf.array()
  }

  /** Parse a .shx into (offsetWords, contentWords) pairs. */
  def parseShx(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt(0) == FileCode, "not a shapefile index")
    ((100 until bytes.length - 7 by 8)).map(p => (buf.getInt(p), buf.getInt(p + 4)))
  }

  private val DbfVersion: Byte = 0x03 // dBASE III, no memo
  // fixed update date for byte-deterministic output (year counts from 1900)
  private val DbfDate: Array[Byte] = Array((2026 - 1900).toByte, 1.toByte, 1.toByte)

  /** Format one attribute value into its fixed-width ASCII cell:
    * C left-justified space-padded, N/F right-justified, null → blanks.
    * Doubles print with the field's decimal count (fiona/GDAL shape) —
    * decimal truncation to `decimals` digits is inherent to the dBASE
    * format, not a writer choice. Overwide numerics fail loud rather
    * than silently corrupting the column. */
  private def formatCell(f: DbfField, v: Any): Array[Byte] = {
    val s = v match {
      case null => ""
      case d: Double => String.format(java.util.Locale.ROOT, s"%.${f.decimals}f", Double.box(d))
      case fl: Float => String.format(java.util.Locale.ROOT, s"%.${f.decimals}f", Double.box(fl.toDouble))
      case other => other.toString
    }
    require(s.length <= f.length, s"value '$s' overflows dbf field ${f.name}(${f.length})")
    val cell = new Array[Byte](f.length)
    java.util.Arrays.fill(cell, ' '.toByte)
    val ascii = s.getBytes(StandardCharsets.US_ASCII)
    if (f.ftype == 'C') System.arraycopy(ascii, 0, cell, 0, ascii.length)
    else System.arraycopy(ascii, 0, cell, f.length - ascii.length, ascii.length)
    cell
  }

  /** Assemble a dBASE III .dbf; `rows(i)` are the attributes of shp
    * record i in file order, values aligned with `fields`. */
  def writeDbf(fields: Seq[DbfField], rows: Seq[Seq[Any]]): Array[Byte] = {
    require(rows.forall(_.size == fields.size), "dbf row arity != field count")
    val headerSize = 32 + 32 * fields.size + 1
    val recordSize = 1 + fields.map(_.length).sum
    val buf = ByteBuffer.allocate(headerSize + recordSize * rows.size + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(DbfVersion).put(DbfDate)
    buf.putInt(rows.size)
    buf.putShort(headerSize.toShort).putShort(recordSize.toShort)
    buf.position(32)
    fields.foreach { f =>
      val name = f.name.take(10).getBytes(StandardCharsets.US_ASCII) // 10-char dbf limit
      val desc = new Array[Byte](32)
      System.arraycopy(name, 0, desc, 0, name.length)
      desc(11) = f.ftype.toByte
      desc(16) = f.length.toByte
      desc(17) = f.decimals.toByte
      buf.put(desc)
    }
    buf.put(0x0D.toByte)
    rows.foreach { row =>
      buf.put(' '.toByte) // deletion flag: live
      fields.zip(row).foreach { case (f, v) => buf.put(formatCell(f, v)) }
    }
    buf.put(0x1A.toByte)
    buf.array()
  }

  /** Parse a .dbf into its field descriptors and per-record trimmed
    * string cells (numeric typing is the caller's choice — dBASE N
    * fields are decimal text). Deleted rows ('*' flag) keep their slot
    * so row i stays aligned with shp record i. */
  def parseDbf(bytes: Array[Byte]): (Seq[DbfField], Seq[Seq[String]]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require((buf.get(0) & 0x07) == 0x03, s"unsupported dbf version ${buf.get(0)}")
    val nRec = buf.getInt(4)
    val headerSize = buf.getShort(8) & 0xFFFF
    val recordSize = buf.getShort(10) & 0xFFFF
    val fields = Seq.newBuilder[DbfField]
    var p = 32
    while (p + 32 <= headerSize && bytes(p) != 0x0D) {
      var nameEnd = p
      while (nameEnd < p + 11 && bytes(nameEnd) != 0) nameEnd += 1
      val name = new String(bytes, p, nameEnd - p, StandardCharsets.US_ASCII)
      fields += DbfField(name, bytes(p + 11).toChar, bytes(p + 16) & 0xFF, bytes(p + 17) & 0xFF)
      p += 32
    }
    val fs = fields.result()
    val rows = (0 until nRec).flatMap { i =>
      val base = headerSize + i.toLong * recordSize
      if (base + recordSize > bytes.length) None
      else {
        var off = base.toInt + 1
        Some(fs.map { f =>
          val cell = new String(bytes, off, f.length, StandardCharsets.US_ASCII).trim
          off += f.length
          cell
        })
      }
    }
    (fs, rows)
  }

  /** The CRS the .prj sidecar declares: the engine's synthetic world is
    * a local engineering grid in metres with no EPSG identity, which
    * WKT1 expresses as a LOCAL_CS (OGC 01-009 §7.3.4). The reference
    * writes .prj through fiona from the source raster's CRS
    * (result/instancesegmentationresult.py:51-59, scripts/merge.py:
    * 196-220); a fixed engineering WKT closes the "CRS unknown" gap a
    * GIS stack hits on a .prj-less export. */
  val PrjWkt: String =
    "LOCAL_CS[\"graft synthetic world grid (metre)\"," +
      "LOCAL_DATUM[\"graft world origin\",0]," +
      "UNIT[\"metre\",1.0]," +
      "AXIS[\"Easting\",EAST],AXIS[\"Northing\",NORTH]]"

  /** Write the complete shapefile quartet (.shp + .shx + .dbf + .prj).
    * `path` may name any of the extensions (or none); siblings derive
    * from the same base. Without attributes the .dbf carries a single
    * `id` N-field holding each record's number, so the set is always
    * GIS-openable. */
  def writeFile(path: String, records: Seq[ShpRecord]): Unit =
    writeFile(path, records, Seq(DbfField.int("id")), records.map(r => Seq(r.recordNum)))

  def writeFile(path: String, records: Seq[ShpRecord],
                fields: Seq[DbfField], attrs: Seq[Seq[Any]]): Unit = {
    val base = path.replaceAll("\\.(shp|shx|dbf|prj)$", "")
    val p = Paths.get(base + ".shp")
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val bodies = recordBodies(records) // serialize ring buffers ONCE for .shp + .shx
    Files.write(p, assembleShp(records, bodies))
    Files.write(Paths.get(base + ".shx"), writeShx(records, bodies))
    Files.write(Paths.get(base + ".dbf"), writeDbf(fields, attrs))
    Files.write(Paths.get(base + ".prj"), PrjWkt.getBytes("US-ASCII"))
  }

  /** Export merged crowns with the reference's cross-image merge schema
    * (scripts/merge.py:196-205: id, area, perimeter, score, class —
    * same field order fiona writes).
    *
    * Winding: `MergedCrown.geom` rings come from
    * `Raster.vectorizeWithHoles`, whose square tracer emits outer AND
    * hole rings with the SAME winding (both walk the traced set's
    * boundary under identical turn rules) — so orientation alone
    * cannot identify holes. Each ring is classified by even-odd DEPTH
    * instead: the tracer starts every ring at the top-left corner of
    * its component's first pixel, so (v0x+0.5, v0y+0.5) is that pixel's
    * center — a point strictly inside the ring — and its parity among
    * the record's OTHER rings is the nesting depth (odd = hole). Outers
    * are then written CW and holes CCW per the shapefile convention, so
    * GIS readers subtract hole area instead of double-counting a donut
    * crown as two filled polygons. */
  def writeMergedCrowns(path: String, crowns: Seq[graft.operators.CrownOps.MergedCrown]): Unit = {
    val (recs, attrs) = mergedCrownRecords(crowns)
    writeFile(path, recs, MergeFields, attrs)
  }

  /** The (records, attribute rows) a merged-crown export serializes —
    * shared by [[writeMergedCrowns]] and in-memory consumers (report's
    * GeoJSON bundle) so the trio is built exactly once. */
  def mergedCrownRecords(crowns: Seq[graft.operators.CrownOps.MergedCrown])
      : (Seq[ShpRecord], Seq[Seq[Any]]) = {
    import graft.geom.Geom
    val recs = crowns.zipWithIndex.map { case (m, i) =>
      val rings = m.geom.toSeq
      val oriented = rings.map { r =>
        val px = r(0) + 0.5
        val py = r(1) + 0.5
        val depth = rings.count(o => !(o eq r) && o.length >= 6 && Geom.containsPoint(o, px, py))
        val isHole = depth % 2 == 1
        val ccw = Geom.signedArea(r) > 0
        // shapefile: outer CW, hole CCW
        if (isHole == ccw) r else Geom.reverseRing(r)
      }
      ShpRecord(i + 1, oriented)
    }
    val attrs = crowns.zipWithIndex.map { case (m, i) =>
      Seq[Any](i.toString, m.area, m.perimeter, m.score, m.classIdx)
    }
    (recs, attrs)
  }

  /** Attribute values rendered exactly as their dbf cells read back
    * (trimmed fixed-format text) — keeps the in-memory GeoJSON path
    * byte-identical to the read-from-disk one. */
  def cellStrings(fields: Seq[DbfField], row: Seq[Any]): Seq[String] =
    fields.zip(row).map { case (f, v) =>
      new String(formatCell(f, v), StandardCharsets.US_ASCII).trim
    }

  /** GeoJSON bundle of a shapefile trio (report.py:71-81
    * `bundle_geojson`): the reference reads the .shp+.dbf through
    * pyshp's `__geo_interface__` and dumps a FeatureCollection as
    * `tree_geojson.js` prefixed with `var tree_shapes = `. Re-created
    * here from the trio's records and dbf rows in memory (`report`
    * already holds them, so the files it just wrote are not re-read):
    * each record becomes a Feature with a Polygon geometry (rings
    * closed per GeoJSON, record ring order preserved: outer first,
    * then holes) and its dbf row as typed properties (N fields with
    * decimals → float, without → int, C → string; blanks → null).
    * Canonical number formatting via [[FixtureIO.fmt]] keeps the
    * bundle byte-deterministic. */
  def bundleGeojson(recs: Seq[ShpRecord], fields: Seq[DbfField],
                    rows: Seq[Seq[String]]): String = {
    def jsonProp(f: DbfField, cell: String): String = {
      val v =
        if (cell.isEmpty) "null"
        else if (f.ftype == 'N' || f.ftype == 'F') {
          if (f.decimals == 0) cell
          else FixtureIO.fmt(cell.toDouble)
        } else "\"" + cell.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      "\"" + f.name + "\": " + v
    }
    def closedRing(ring: Array[Double]): String = {
      val pts = ring.grouped(2).map(p => s"[${FixtureIO.fmt(p(0))}, ${FixtureIO.fmt(p(1))}]")
      // GeoJSON rings are closed: repeat the first point
      (pts ++ Iterator.single(
        s"[${FixtureIO.fmt(ring(0))}, ${FixtureIO.fmt(ring(1))}]")).mkString("[", ", ", "]")
    }
    val feats = recs.map { r =>
      val props = rows.lift(r.recordNum - 1) match {
        case Some(row) => fields.zip(row).map { case (f, c) => jsonProp(f, c) }.mkString(", ")
        case None => ""
      }
      // a shapefile record may hold SEVERAL outer rings (legal: one
      // record, multiple CW parts) — RFC 7946 then requires
      // MultiPolygon, or the second outer reads as a hole of the
      // first (pyshp's __geo_interface__ makes the same distinction).
      // Shapefile winding is authoritative: CW (negative signed area)
      // = outer, CCW = hole; each hole attaches to the smallest outer
      // containing its first vertex.
      import graft.geom.Geom
      val outers = r.rings.filter(rg => Geom.signedArea(rg) <= 0)
      val holes = r.rings.filter(rg => Geom.signedArea(rg) > 0)
      val polys: Seq[Seq[Array[Double]]] =
        if (outers.size <= 1) Seq(r.rings) // preserve record order in the simple case
        else {
          val grouped = outers.map(o => (o, scala.collection.mutable.ArrayBuffer[Array[Double]]()))
          holes.foreach { h =>
            val candidates = grouped.filter { case (o, _) => Geom.containsPoint(o, h(0), h(1)) }
            if (candidates.nonEmpty)
              candidates.minBy { case (o, _) => Geom.area(o) }._2 += h
          }
          grouped.map { case (o, hs) => o +: hs.toSeq }
        }
      val geometry =
        if (polys.size == 1)
          s"""{"type": "Polygon", "coordinates": ${polys.head.map(closedRing).mkString("[", ", ", "]")}}"""
        else
          s"""{"type": "MultiPolygon", "coordinates": ${
            polys.map(_.map(closedRing).mkString("[", ", ", "]")).mkString("[", ", ", "]")}}"""
      s"""{"type": "Feature", "properties": {$props}, "geometry": $geometry}"""
    }
    val allPts = recs.flatMap(_.rings).flatMap(_.grouped(2).map(p => (p(0), p(1))))
    val bbox =
      if (allPts.isEmpty) ""
      else {
        val (xs, ys) = (allPts.map(_._1), allPts.map(_._2))
        s""""bbox": [${FixtureIO.fmt(xs.min)}, ${FixtureIO.fmt(ys.min)}, """ +
          s"""${FixtureIO.fmt(xs.max)}, ${FixtureIO.fmt(ys.max)}], """
      }
    s"""{"type": "FeatureCollection", $bbox"features": ${feats.mkString("[", ", ", "]")}}"""
  }

  /** Distributed scan over a directory of .shp files: Spark's binaryFile
    * source lists + distributes the files; each file parses inside the
    * scan. The sidecar .dbf/.prj (when present) are opened through the
    * Hadoop filesystem INSIDE the same task — geometry, attributes and
    * CRS pair up with zero shuffle. Sidecar ABSENCE reads as empty
    * props / empty crs_wkt; a PRESENT-but-corrupt .dbf fails loud.
    * Output (path, record_num, rings ARRAY<ARRAY<DOUBLE>>,
    * props MAP<STRING,STRING>, crs_wkt STRING). */
  def readTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(hconf)
    spark.read.format("binaryFile").option("pathGlobFilter", "*.shp").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          // sidecar loader: ABSENCE is fine (attribute-/CRS-less
          // shapefiles are legal), but a sidecar that EXISTS and fails
          // to read/parse must fail LOUD — a corrupt .dbf silently
          // reading as "no attributes" is indistinguishable from real
          // attribute-less data (repo convention: GeoTiffIO.parse
          // fails loud on a corrupt tile the same way)
          def sidecarBytes(ext: String): Option[Array[Byte]] = {
            val scPath = new org.apache.hadoop.fs.Path(path.replaceAll("\\.shp$", ext))
            val fs = scPath.getFileSystem(bc.value.value)
            if (!fs.exists(scPath)) None
            else {
              val len = fs.getFileStatus(scPath).getLen.toInt
              val raw = new Array[Byte](len)
              val in = fs.open(scPath)
              try in.readFully(0, raw) finally in.close()
              Some(raw)
            }
          }
          val sidecar: Option[IndexedSeq[Map[String, String]]] =
            sidecarBytes(".dbf").map { raw =>
              val (fds, rows) =
                try parseDbf(raw)
                catch {
                  case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
                    s"corrupt .dbf sidecar for $path: ${e.getMessage}", e)
                }
              rows.map(r => fds.map(_.name).zip(r).toMap).toIndexedSeq
            }
          val crsWkt = sidecarBytes(".prj")
            .map(new String(_, "US-ASCII").trim).getOrElse("")
          // dbf row i pairs with shp record number i+1 (spec: record
          // numbers are sequential 1-based) — null-shape records keep
          // their dbf slot even though parse() doesn't emit them; a
          // missing .dbf means no attributes, a short one fails loudly
          parse(bytes).map { r =>
            val props = sidecar.fold(Map.empty[String, String]) { rows =>
              require(r.recordNum >= 1 && r.recordNum <= rows.size,
                s".dbf sidecar for $path has ${rows.size} rows, none for record ${r.recordNum}")
              rows(r.recordNum - 1)
            }
            (path, r.recordNum, r.rings, props, crsWkt)
          }
        }
      }
      .toDF("path", "record_num", "rings", "props", "crs_wkt")
  }
}
