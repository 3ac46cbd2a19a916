package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Geom
import graft.tables.ShapefileIO
import graft.tables.ShapefileIO.ShpRecord

/** Binary ESRI shapefile source/sink (S5): spec-conformant header and
  * record layout, write→read round trip (coordinates bit-identical),
  * multi-ring (donut) records, and the distributed directory scan. */
class ShapefileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val square = Array(0.5, 0.5, 0.5, 10.5, 10.5, 10.5, 10.5, 0.5) // CW outer
  private val hole = Array(3.25, 3.25, 6.75, 3.25, 6.75, 6.75, 3.25, 6.75) // CCW hole

  /** The GeoJSON bundle of a trio read back from disk (.dbf optional). */
  private def bundleFromDisk(shp: String): String = {
    val dbf = java.nio.file.Paths.get(shp.stripSuffix(".shp") + ".dbf")
    val (fields, rows) =
      if (java.nio.file.Files.exists(dbf)) ShapefileIO.parseDbf(java.nio.file.Files.readAllBytes(dbf))
      else (Seq.empty, Seq.empty)
    ShapefileIO.bundleGeojson(ShapefileIO.read(shp), fields, rows)
  }

  test("write/parse round trip preserves record numbers, ring structure, exact coords") {
    val recs = Seq(
      ShpRecord(1, Seq(square)),
      ShpRecord(2, Seq(square.map(_ + 100.0), hole.map(_ + 100.0))),
      ShpRecord(3, Seq(Array(-5.75, -3.5, -5.75, 2.25, 1.5, 2.25))))
    val back = ShapefileIO.parse(ShapefileIO.write(recs))
    assert(back.map(_.recordNum) === Seq(1, 2, 3))
    assert(back.map(_.rings.size) === Seq(1, 2, 1))
    recs.zip(back).foreach { case (w, r) =>
      w.rings.zip(r.rings).foreach { case (a, b) => assert(a sameElements b) }
    }
  }

  test("header fields follow the spec (file code 9994 BE, version 1000 LE, type 5)") {
    val bytes = ShapefileIO.write(Seq(ShpRecord(1, Seq(square))))
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(bb.getInt(0) === 9994)
    assert(bb.getInt(24) * 2 === bytes.length) // length in 16-bit words
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(28) === 1000 && bb.getInt(32) === 5)
    // header bbox
    assert(bb.getDouble(36) === 0.5 && bb.getDouble(52) === 10.5)
    // first record header: number 1 (BE) at offset 100
    bb.order(java.nio.ByteOrder.BIG_ENDIAN)
    assert(bb.getInt(100) === 1)
  }

  test("robustness: empty-ring records become Null Shapes; malformed bytes don't hang") {
    def rejects(b: Array[Byte]) = intercept[IllegalArgumentException](ShapefileIO.parse(b))
    // ringless record (e.g. MergedCrown with emitGeom=false) → Null Shape
    val bytes = ShapefileIO.write(Seq(
      ShpRecord(1, Seq.empty), ShpRecord(2, Seq(square)), ShpRecord(3, Seq(Array(1.0, 2.0)))))
    val back = ShapefileIO.parse(bytes)
    assert(back.map(_.recordNum) === Seq(2)) // null shapes skipped on read
    // corrupt record header (negative content length) fails loudly
    // instead of spinning, OOMing or returning the records before it
    val good = ShapefileIO.write(Seq(ShpRecord(1, Seq(square)), ShpRecord(2, Seq(square))))
    val corrupt = good.clone()
    val firstLen = java.nio.ByteBuffer.wrap(good).getInt(104) // record 1 content words
    val rec2 = 100 + 8 + firstLen * 2
    java.nio.ByteBuffer.wrap(corrupt).putInt(rec2 + 4, -4)
    assert(rejects(corrupt).getMessage.contains(s"record 2 at byte $rec2"))
    // truncated file fails loudly, naming the cut record
    assert(rejects(good.take(good.length - 10)).getMessage.contains(s"record 2 at byte $rec2"))
    // corrupt polygon BODY (numPoints huge / negative): loud failure, no
    // giant allocation, no reading the next record's bytes as coords
    val bodyCorrupt = good.clone()
    val bb2 = java.nio.ByteBuffer.wrap(bodyCorrupt).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb2.putInt(100 + 8 + 40, 1 << 30) // record 1 numPoints
    assert(rejects(bodyCorrupt).getMessage.contains("record 1 at byte 100"))
    bb2.putInt(100 + 8 + 40, -7)
    assert(rejects(bodyCorrupt).getMessage.contains("record 1 at byte 100"))
    // corrupt ring part OFFSET (negative / past numPoints): loud failure
    // instead of reading header bytes as coordinates
    val startsCorrupt = good.clone()
    val bb3 = java.nio.ByteBuffer.wrap(startsCorrupt).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb3.putInt(100 + 8 + 44, -5) // record 1 parts[0]
    assert(rejects(startsCorrupt).getMessage.contains("record 1 at byte 100"))
    bb3.putInt(100 + 8 + 44, 1 << 28)
    assert(rejects(startsCorrupt).getMessage.contains("record 1 at byte 100"))
  }

  test("spec-violating unclosed ring keeps all vertices; closed ring drops only the repeat") {
    // hand-build a record whose ring does NOT repeat the first point
    val open = Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0) // 4 distinct pts
    val contentBytes = 4 + 32 + 4 + 4 + 4 + 16 * 4
    val b = java.nio.ByteBuffer.allocate(100 + 8 + contentBytes)
    b.order(java.nio.ByteOrder.BIG_ENDIAN)
    b.putInt(0, 9994); b.putInt(24, (100 + 8 + contentBytes) / 2)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(28, 1000); b.putInt(32, 5)
    b.order(java.nio.ByteOrder.BIG_ENDIAN)
    b.putInt(100, 1); b.putInt(104, contentBytes / 2)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(108, 5) // polygon
    b.putInt(108 + 36, 1); b.putInt(108 + 40, 4) // 1 part, 4 points, NOT closed
    b.putInt(108 + 44, 0)
    for (k <- 0 until 4) {
      b.putDouble(108 + 48 + 16 * k, open(2 * k)); b.putDouble(108 + 56 + 16 * k, open(2 * k + 1))
    }
    val back = ShapefileIO.parse(b.array())
    assert(back.size === 1 && back.head.rings.head.length === 8) // all 4 points kept
    // the writer closes rings, so round-trip drops exactly the repeat
    val closed = ShapefileIO.parse(ShapefileIO.write(back))
    assert(closed.head.rings.head sameElements open)
  }

  test("writeFile emits the .shp/.shx/.dbf/.prj quartet; shx offsets index the shp records") {
    val dir = java.nio.file.Files.createTempDirectory("shptrio").toString
    val recs = Seq(ShpRecord(1, Seq(square)), ShpRecord(2, Seq(square, hole)), ShpRecord(3, Seq.empty))
    ShapefileIO.writeFile(s"$dir/t.shp", recs)
    for (ext <- Seq("shp", "shx", "dbf", "prj"))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/t.$ext")), ext)
    // .prj content: the engine's fixed engineering CRS (WKT1 LOCAL_CS —
    // the synthetic world grid has no EPSG identity), fiona-analogue of
    // result/instancesegmentationresult.py:51-59
    val prj = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/t.prj")), "US-ASCII")
    assert(prj === ShapefileIO.PrjWkt)
    assert(prj.startsWith("LOCAL_CS[") && prj.contains("UNIT[\"metre\",1.0]"))
    val shp = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/t.shp"))
    val idx = ShapefileIO.parseShx(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/t.shx")))
    assert(idx.size === 3 && idx.head._1 === 50) // first record right after header
    // every shx entry points at the matching record header in the shp
    val bb = java.nio.ByteBuffer.wrap(shp).order(java.nio.ByteOrder.BIG_ENDIAN)
    idx.zipWithIndex.foreach { case ((off, len), i) =>
      assert(bb.getInt(off * 2) === i + 1)       // record number
      assert(bb.getInt(off * 2 + 4) === len)     // content length agrees
    }
    // shx file length field is self-describing
    assert(java.nio.ByteBuffer.wrap(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/t.shx")))
      .getInt(24) * 2 === 100 + 8 * 3)
  }

  test("dbf round-trips both reference property schemas in field order") {
    // instance schema (instancesegmentationresult.py:51-59)
    val rows = Seq(
      Seq[Any](0.875, "tree", 1, 42),
      Seq[Any](0.5, "canopy", 0, 43))
    val bytes = ShapefileIO.writeDbf(ShapefileIO.InstanceFields, rows)
    val (fds, back) = ShapefileIO.parseDbf(bytes)
    assert(fds.map(_.name) === Seq("score", "class", "class_idx", "id")) // fiona order
    assert(fds.map(_.ftype) === Seq('N', 'C', 'N', 'N'))
    assert(back.size === 2)
    assert(back(0) === Seq("0.875000000000000", "tree", "1", "42"))
    assert(back(1)(1) === "canopy" && back(1)(3) === "43")
    // merge schema (scripts/merge.py:196-205)
    val mrows = Seq(Seq[Any]("0", 12.25, 14.5, 0.75, 1))
    val (mf, mb) = ShapefileIO.parseDbf(ShapefileIO.writeDbf(ShapefileIO.MergeFields, mrows))
    assert(mf.map(_.name) === Seq("id", "area", "perimeter", "score", "class"))
    assert(mb.head === Seq("0", "12.250000000000000", "14.500000000000000", "0.750000000000000", "1"))
    // header bookkeeping follows the dBASE spec
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.get(0) === 0x03)
    assert(bb.getInt(4) === 2) // record count
    assert((bb.getShort(8) & 0xFFFF) === 32 + 32 * 4 + 1)
    assert((bb.getShort(10) & 0xFFFF) === 1 + 24 + 80 + 18 + 18)
    assert(bytes.last === 0x1A)
  }

  test("merged-crown export: trio on disk, merge.py field order, attrs surfaced by readTable") {
    import spark.implicits._
    val crowns = graft.operators.CrownOps.synthesize(spark,
      graft.operators.GeoOps.assignTiles(graft.tables.PagesGen.pages(spark, 300)),
      graft.operators.GeoOps.TileGrid.Default)
    val merged = graft.operators.CrownOps.nmsMerge(spark, crowns, 0.7, 0.3, 0.5, emitGeom = true)
      .collect().take(20).toSeq
    val dir = java.nio.file.Files.createTempDirectory("shpmerge").toString
    ShapefileIO.writeMergedCrowns(s"$dir/merged.shp", merged)
    val (fds, rows) = ShapefileIO.parseDbf(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/merged.dbf")))
    assert(fds.map(_.name) === Seq("id", "area", "perimeter", "score", "class"))
    assert(rows.size === merged.size)
    rows.zip(merged).foreach { case (r, m) =>
      assert(r(0).toInt >= 0)
      assert(math.abs(r(1).toDouble - m.area) < 1e-6)
      assert(math.abs(r(3).toDouble - m.score) < 1e-9)
      assert(r(4).toInt === m.classIdx)
    }
    // distributed scan surfaces the attributes with zero shuffle
    val df = ShapefileIO.readTable(spark, dir)
    val got = df.orderBy("record_num").select("record_num", "props").collect()
    assert(got.length === merged.count(_.geom.nonEmpty))
    got.foreach { row =>
      val props = row.getMap[String, String](1)
      val m = merged(row.getInt(0) - 1)
      assert(props.keySet === Set("id", "area", "perimeter", "score", "class"))
      assert(math.abs(props("area").toDouble - m.area) < 1e-6)
      assert(props("class").toInt === m.classIdx)
    }
    // .prj sidecar surfaces as crs_wkt on every row of the scan
    val wkts = df.select("crs_wkt").distinct().collect().map(_.getString(0))
    assert(wkts.toSeq === Seq(ShapefileIO.PrjWkt))
  }

  test("readTable: corrupt .dbf sidecar fails LOUD; absent sidecars read as empty") {
    val dir = java.nio.file.Files.createTempDirectory("shpcorrupt").toString
    ShapefileIO.writeFile(s"$dir/a.shp", Seq(ShpRecord(1, Seq(square))))
    // no sidecars at all: bare .shp scans fine with empty props/crs
    val bare = java.nio.file.Files.createTempDirectory("shpbare").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/a.shp"),
      java.nio.file.Paths.get(s"$bare/a.shp"))
    val row = ShapefileIO.readTable(spark, bare).select("props", "crs_wkt").head()
    assert(row.getMap[String, String](0).isEmpty && row.getString(1) === "")
    // PRESENT-but-truncated .dbf must not silently read as "no attributes"
    val dbf = java.nio.file.Paths.get(s"$dir/a.dbf")
    java.nio.file.Files.write(dbf,
      java.util.Arrays.copyOf(java.nio.file.Files.readAllBytes(dbf), 9))
    val err = intercept[org.apache.spark.SparkException] {
      ShapefileIO.readTable(spark, dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(err).exists(c => Option(c.getMessage).exists(_.contains("corrupt .dbf"))))
  }

  test("writeMergedCrowns orients donut holes CCW (outer CW) despite same-winding tracer rings") {
    import graft.operators.CrownOps.MergedCrown
    // vectorizeWithHoles emits outer AND hole with the SAME winding;
    // replicate that: both rings CCW, hole nested inside the outer,
    // first vertex = top-left corner of the component's first pixel
    // (so v0 + (0.5, 0.5) is inside the ring, as the tracer guarantees)
    val outer = Array(0.0, 0.0, 12.0, 0.0, 12.0, 12.0, 0.0, 12.0)   // CCW
    val holeSameWinding = Array(4.0, 4.0, 8.0, 4.0, 8.0, 8.0, 4.0, 8.0) // also CCW
    assert(Geom.signedArea(outer) > 0 && Geom.signedArea(holeSameWinding) > 0)
    val m = MergedCrown(0L, 1, Array(1L), 0.9, Array(0.9), 0, 0, 12, 12,
      128.0, 64.0, Array(outer), Array(outer, holeSameWinding))
    val dir = java.nio.file.Files.createTempDirectory("shpdonut").toString
    ShapefileIO.writeMergedCrowns(s"$dir/donut.shp", Seq(m))
    val back = ShapefileIO.read(s"$dir/donut.shp")
    assert(back.size === 1 && back.head.rings.size === 2)
    val areas = back.head.rings.map(Geom.signedArea)
    // shapefile convention: outer CW (negative signed area), hole CCW
    assert(areas.count(_ < 0) === 1, s"outer must be CW: $areas")
    assert(areas.count(_ > 0) === 1, s"hole must be CCW: $areas")
    // and the CCW (hole) ring is the nested one
    val hole = back.head.rings(areas.indexWhere(_ > 0))
    assert(math.abs(Geom.area(hole) - 16.0) < 1e-9)
  }

  test("bundleGeojson: FeatureCollection with typed dbf properties and closed rings (report.py:71-81)") {
    val dir = java.nio.file.Files.createTempDirectory("shpgeojson").toString
    val tri = Array(0.0, 0.0, 8.0, 0.0, 4.0, 6.0)
    ShapefileIO.writeFile(s"$dir/t.shp",
      Seq(ShpRecord(1, Seq(square)), ShpRecord(2, Seq(tri))),
      ShapefileIO.MergeFields,
      Seq(Seq[Any]("0", 100.0, 40.0, 0.875, 1), Seq[Any]("1", 24.0, 20.5, 0.5, 0)))
    val json = bundleFromDisk(s"$dir/t.shp")
    assert(json.startsWith("""{"type": "FeatureCollection", "bbox": ["""))
    assert(json.contains(""""type": "Feature""""))
    // typed properties: N 24.15 -> float, N 18.0 -> int, C -> string
    assert(json.contains(""""id": "0""""))
    assert(json.contains(""""score": 0.875""") && json.contains(""""class": 1"""))
    assert(json.contains(""""area": 24""") && json.contains(""""perimeter": 20.5"""))
    // rings closed: first point repeated at the end of each ring
    assert(json.contains("[0.5, 0.5]") )
    val firstRing = json.split("\"coordinates\": ")(1)
    assert(firstRing.startsWith("[[[0.5, 0.5]") && firstRing.contains("[10.5, 0.5], [0.5, 0.5]]"))
  }

  test("bundleGeojson: multi-outer record emits MultiPolygon with the hole on the right outer") {
    // two CW outers + one CCW hole inside outer A — RFC 7946 demands
    // MultiPolygon here (a single Polygon would read outer B as a hole)
    val outerA = Array(0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0, 0.0)    // CW
    val holeA = Array(2.0, 2.0, 5.0, 2.0, 5.0, 5.0, 2.0, 5.0)         // CCW
    val outerB = Array(20.0, 0.0, 0.0 + 20.0, 10.0, 30.0, 10.0, 30.0, 0.0) // CW
    assert(Geom.signedArea(outerA) < 0 && Geom.signedArea(outerB) < 0 && Geom.signedArea(holeA) > 0)
    val dir = java.nio.file.Files.createTempDirectory("shpmp").toString
    ShapefileIO.writeFile(s"$dir/mp.shp", Seq(ShpRecord(1, Seq(outerA, holeA, outerB))))
    val json = bundleFromDisk(s"$dir/mp.shp")
    assert(json.contains("\"type\": \"MultiPolygon\""))
    // two polygons: [outerA, holeA] and [outerB]
    val coords = json.split("\"coordinates\": ")(1)
    assert(coords.startsWith("[[[[0, 0]")) // outer A first
    assert(coords.contains("[[2, 2]"))      // its hole in the same polygon
    assert(coords.contains("[[[20, 0]"))    // outer B as a separate polygon
    // single-outer records still emit plain Polygon
    ShapefileIO.writeFile(s"$dir/p.shp", Seq(ShpRecord(1, Seq(outerA, holeA))))
    assert(bundleFromDisk(s"$dir/p.shp").contains("\"type\": \"Polygon\""))
    // in-memory bundle is byte-identical to the from-disk one
    val (recs, attrs) = (Seq(ShpRecord(1, Seq(outerA, holeA, outerB))),
      Seq(Seq[Any]("0", 84.0, 60.0, 0.9, 1)))
    ShapefileIO.writeFile(s"$dir/m2.shp", recs, ShapefileIO.MergeFields, attrs)
    val fromDisk = bundleFromDisk(s"$dir/m2.shp")
    val inMem = ShapefileIO.bundleGeojson(recs, ShapefileIO.MergeFields,
      attrs.map(ShapefileIO.cellStrings(ShapefileIO.MergeFields, _)))
    assert(inMem === fromDisk)
  }

  test("pipeline geoms round trip through a shapefile (exact vertices)") {
    import spark.implicits._
    val crowns = graft.operators.CrownOps.synthesize(spark,
      graft.operators.GeoOps.assignTiles(graft.tables.PagesGen.pages(spark, 500)),
      graft.operators.GeoOps.TileGrid.Default)
    val merged = graft.operators.CrownOps.nmsMerge(spark, crowns, 0.7, 0.3, 0.5)
      .collect().take(50)
    // shapefile convention: outer rings CW — reverse the engine's CCW
    val recs = merged.zipWithIndex.map { case (m, i) =>
      ShpRecord(i + 1, m.geom.toSeq.map(r =>
        if (Geom.signedArea(r) > 0) Geom.reverseRing(r) else r))
    }.filter(_.rings.nonEmpty).toSeq
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    ShapefileIO.writeFile(s"$dir/crowns.shp", recs)
    val back = ShapefileIO.read(s"$dir/crowns.shp")
    assert(back.size === recs.size)
    recs.zip(back).foreach { case (w, r) =>
      w.rings.zip(r.rings).foreach { case (a, b) => assert(a sameElements b) }
    }
    // distributed scan over the directory
    val df = ShapefileIO.readTable(spark, dir)
    assert(df.count() === recs.size.toLong)
    val total = df.select("rings").collect().map(_.getSeq[scala.collection.Seq[Double]](0)
      .map(r => Geom.area(r.toArray)).sum).sum
    val expect = recs.flatMap(_.rings).map(Geom.area).sum
    assert(math.abs(total - expect) < 1e-6)
  }
}
