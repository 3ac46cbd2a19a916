package graft

import graft.geom.{Geom, Raster}
import graft.operators.CrownOps.Crown

/** The reference's 387-instance COCO fixture
  * (src/test/resources/reference_golden_coco.json), parsed for the
  * suites that read its annotations, masks or crowns. */
object ReferenceFixture {

  final case class Ann(id: Long, categoryId: Int, score: Double,
                       bbox: Array[Double], area: Double,
                       rows: Int, cols: Int, counts: String) {
    def mask: Array[Byte] = Raster.rleDecode(Raster.rleFromCocoString(counts), rows, cols)
  }

  // minimal JSON walking (the file is well-formed, flat-ish)
  private lazy val raw = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("src/test/resources/reference_golden_coco.json")),
    java.nio.charset.StandardCharsets.UTF_8)

  lazy val annotations: Seq[Ann] = {
    val body = raw.substring(raw.indexOf("\"annotations\""))
    // the reference writes json.dump(indent=1) — whitespace-tolerant
    val recRe = ("""(?s)\{\s*"id":\s*(\d+),\s*"image_id":\s*\d+,\s*""" +
      """"category_id":\s*(\d+),\s*"score":\s*([0-9.eE+-]+),\s*""" +
      """"label":\s*[^,]+,\s*"bbox":\s*\[([^\]]*)\],\s*""" +
      """"area":\s*([0-9.eE+-]+),\s*"segmentation":\s*\{\s*""" +
      """"size":\s*\[\s*(\d+),\s*(\d+)\s*\],\s*"counts":\s*"([^"]*)"""").r
    val out = recRe.findAllMatchIn(body).map { m =>
      Ann(m.group(1).toLong, m.group(2).toInt, m.group(3).toDouble,
        m.group(4).split(",").map(_.trim.toDouble), m.group(5).toDouble,
        m.group(6).toInt, m.group(7).toInt,
        // RLE chars span ASCII 48..111 which includes backslash (92) —
        // JSON-escaped in the raw text
        m.group(8).replace("\\\\", "\\"))
    }.toSeq
    require(out.nonEmpty, "fixture parse produced no annotations")
    out
  }

  /** Reference instances as crowns: polygon = the traced dominant
    * component of the mask, in global coords. */
  lazy val crowns: IndexedSeq[Crown] = annotations.flatMap { a =>
    Raster.vectorize(a.mask, a.rows, a.cols).sortBy(-Geom.area(_)).headOption.map { local =>
      val poly = Geom.translate(local, a.bbox(0), a.bbox(1))
      val bb = Geom.BBox.ofPolygon(poly)
      Crown(0L, a.id, a.id, 0L, a.categoryId, a.score, bb.minX, bb.minY, bb.maxX, bb.maxY, poly)
    }
  }.toIndexedSeq
}
