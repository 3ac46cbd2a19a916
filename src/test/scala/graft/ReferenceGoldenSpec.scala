package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Raster

/** Parity against the REFERENCE's own golden serialized-geometry
  * fixture — the 387-instance COCO file from
  * /root/reference/tests/unit/5c15321f63d9810007f8b06f_10_00000.json
  * (ported as test data per SURVEY.md §5; written by the reference's
  * postprocess/processedinstance.py:339-428). Our compressed-RLE codec
  * must decode every annotation, the decoded masks must be
  * self-consistent with the fixture's own bbox/size fields, and
  * re-encoding must reproduce the reference's counts strings
  * byte-for-byte. */
class ReferenceGoldenSpec extends AnyFunSuite {

  import ReferenceFixture.annotations

  test("all 387 reference annotations parse") {
    assert(annotations.size === 387)
    assert(annotations.map(_.categoryId).toSet === Set(0, 1))
  }

  test("compressed RLE decodes: counts sum to size, mask area ≈ bbox-bounded") {
    annotations.foreach { a =>
      val counts = Raster.rleFromCocoString(a.counts)
      assert(counts.sum === a.rows * a.cols,
        s"ann ${a.id}: counts sum ${counts.sum} != ${a.rows * a.cols}")
      val mask = Raster.rleDecode(counts, a.rows, a.cols)
      val nz = mask.count(_ != 0)
      assert(nz > 0 && nz <= a.rows * a.cols)
      // size == bbox h/w (the local mask covers the instance bbox)
      assert(a.rows === a.bbox(3).toInt && a.cols === a.bbox(2).toInt)
    }
  }

  test("re-encoding reproduces the reference counts strings byte-for-byte") {
    annotations.foreach { a =>
      val counts = Raster.rleFromCocoString(a.counts)
      assert(Raster.rleToCocoString(counts) === a.counts, s"ann ${a.id}")
    }
  }

  test("our merge pipeline runs end-to-end ON the reference's instances") {
    // reference instances → our Crown model (polygon = traced dominant
    // component in global coords) → NMS + dissolve/split merge with the
    // reference CLI defaults (merge.py:235: conf 0.35, iou 0.1; NMS 0.7)
    val crowns = ReferenceFixture.crowns
    assert(crowns.size === 387)
    val merged = Seq(0, 1).flatMap { cls =>
      val kept = graft.operators.CrownOps.nmsLocal(
        crowns.filter(_.classIdx == cls), 0.7)
      graft.operators.CrownOps.mergeLocal(kept, cls, confThr = 0.35, iouThr = 0.1)
    }
    assert(merged.nonEmpty && merged.size < 387) // NMS/conf/merge reduce
    // deterministic: same counts on re-run (regression anchor)
    val again = Seq(0, 1).flatMap { cls =>
      graft.operators.CrownOps.mergeLocal(graft.operators.CrownOps.nmsLocal(
        crowns.filter(_.classIdx == cls), 0.7), cls, 0.35, 0.1)
    }
    assert(merged.map(_.ids.sorted).toSet === again.map(_.ids.sorted).toSet)
    // every merged instance's members come from the fixture's id space
    merged.foreach(_.ids.foreach(id => assert(id >= 0 && id < 387)))
  }

  test("decoded masks round-trip EXACTLY through hole-aware vectorize") {
    annotations.foreach { a =>
      val counts = Raster.rleFromCocoString(a.counts)
      val mask = Raster.rleDecode(counts, a.rows, a.cols)
      val comps = Raster.vectorizeWithHoles(mask, a.rows, a.cols)
      assert(comps.nonEmpty, s"ann ${a.id} vectorizes to nothing")
      // even-odd re-rasterization of ALL rings (outers + holes) must
      // reproduce the decoded mask pixel-for-pixel
      val rt = Raster.rasterizeRings(comps.flatten, a.rows, a.cols)
      val nzOrig = mask.count(_ != 0)
      val nzRt = rt.count(_ != 0)
      assert(nzRt === nzOrig, s"ann ${a.id}: traced $nzRt != original $nzOrig")
      assert(java.util.Arrays.equals(rt, mask), s"ann ${a.id}: pixel mismatch")
    }
  }
}
