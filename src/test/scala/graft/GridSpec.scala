package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.grid.{CellIndex, TileGridSpec}
import graft.grid.TileGridSpec.Tile

/** Integer-exact tile-grid goldens ported from the reference
  * (tests/unit/test_tiling.py:15-77, tests/unit/test_data.py:33-41)
  * plus cell-index properties. */
class GridSpec extends AnyFunSuite {

  // scalatestplus isn't in the offline cache; sample seeded ScalaCheck
  // generators directly for deterministic property-style checks.
  private def forSamples[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  test("golden: 2048² @ tile 2048 / overlap 256 → exactly 1 tile, full window") {
    val tiles = TileGridSpec(2048, 2048, 2048, 256).tiles
    assert(tiles.length === 1)
    assert(tiles(0) === Tile(0, 0, 0, 2048, 2048))
  }

  test("golden: 2048² @ tile 1024 / overlap 256 → 9 tiles, all exactly 1024²") {
    val tiles = TileGridSpec(2048, 2048, 1024, 256).tiles
    assert(tiles.length === 9)
    tiles.foreach { t =>
      assert(t.maxX - t.minX === 1024 && t.maxY - t.minY === 1024)
      assert(t.minX >= 0 && t.maxX <= 2048 && t.minY >= 0 && t.maxY <= 2048)
    }
    // linspace(0, 1024, 3) = [0, 512, 1024]
    assert(tiles.map(_.minX).distinct.sorted.toSeq === Seq(0L, 512L, 1024L))
  }

  test("golden: 2048² @ tile 1024 / overlap 0 → 4 tiles") {
    assert(TileGridSpec(2048, 2048, 1024, 0).tiles.length === 4)
  }

  test("golden: 2048² @ tile 1024 / overlap 512 → 9 tiles (test_data.py:33-41)") {
    assert(TileGridSpec(2048, 2048, 1024, 512).tiles.length === 9)
  }

  test("golden: oversize tile 4096 @ 2048² → 1 over-extending tile") {
    val tiles = TileGridSpec(2048, 2048, 4096, 256).tiles
    assert(tiles.length === 1)
    assert(tiles(0) === Tile(0, 0, 0, 4096, 4096))
  }

  test("atGsd (P13): GSD-aware source windows + unknown-resolution fallback") {
    def tilesAtGsd(width: Long, height: Long, tileSize: Long, minOverlap: Long,
                srcGsd: Double, targetGsd: Double): (Array[Tile], Double) = {
      val (spec, scale) = TileGridSpec.atGsd(width, height, tileSize, minOverlap, srcGsd, targetGsd)
      (spec.tiles, scale)
    }
    // reference docstring case (tiling.py:389-392): tile 1024, src_gsd
    // 0.05, target 0.1 → scale 2, source windows 2048²
    val (g, scale) = tilesAtGsd(8192, 8192, 1024, 256, srcGsd = 0.05, targetGsd = 0.1)
    assert(scale === 2.0)
    assert(g.forall(t => t.maxX - t.minX === 2048L && t.maxY - t.minY === 2048L))
    // fractional GSD: scale = round(0.1/0.07, 6) = 1.428571 (half-even),
    // source tile = round(1024 * 1.428571) = 1463 (Python round)
    val (g2, s2) = tilesAtGsd(8192, 8192, 1024, 256, srcGsd = 0.07, targetGsd = 0.1)
    assert(s2 === 1.428571)
    assert(g2.head.maxX - g2.head.minX === 1463L)
    // unknown resolution (res == 0): warn-and-continue semantics — the
    // plain grid at scale 1, not an exception (imagedataset.py:110-118)
    val (g3, s3) = tilesAtGsd(2048, 2048, 1024, 256, srcGsd = 0.0, targetGsd = 0.1)
    assert(s3 === 1.0 && g3.length === 9)
    // matched GSD degenerates to the plain grid
    val (g4, s4) = tilesAtGsd(2048, 2048, 1024, 256, srcGsd = 0.1, targetGsd = 0.1)
    assert(s4 === 1.0 && g4.length === 9)
    // invalid TARGET gsd also degrades to scale 1 (no negative-overlap
    // gapped grid, no crash)
    val (g5, s5) = tilesAtGsd(2048, 2048, 1024, 256, srcGsd = 0.1, targetGsd = 0.0)
    assert(s5 === 1.0 && g5.length === 9)
    // extreme downscale: rounded overlap clamps below the tile so the
    // grid stays valid and gap-free
    val (t6, o6, _) = TileGridSpec.geoScale(1024, 1000, srcGsd = 341.0, targetGsd = 1.0)
    assert(o6 >= 0 && o6 < t6)
  }

  test("overlap > tile size raises (test_tiling.py:41-44)") {
    assertThrows[IllegalArgumentException](TileGridSpec(2048, 2048, 256, 512))
  }

  test("negative overlap or non-positive tile size is rejected, not a gapped grid") {
    // overlap -512 strides 1536 px: x-edges [0, 1536, 3072] leave
    // [1024, 1536) uncovered, so covering(1200, y) would be empty and
    // assignTiles' explode would drop the page
    val gapped = intercept[IllegalArgumentException](TileGridSpec(4096, 4096, 1024, -512))
    assert(gapped.getMessage.contains("overlap=-512"))
    assertThrows[IllegalArgumentException](TileGridSpec(4096, 4096, 0, -1))
    assertThrows[IllegalArgumentException](TileGridSpec(4096, 4096, -1024, -2048))
    // zero overlap stays legal: the edges abut with no gap
    val abut = TileGridSpec(4096, 4096, 1024, 0)
    assert(abut.xEdges.toSeq === Seq(0L, 1024L, 2048L, 3072L))
    assert(abut.covering(1200.0, 0.0).toSeq === Seq(1L))
  }

  test("linspace truncation matches numpy astype(int)") {
    // numpy: linspace(0, 1000, 3) = [0, 500, 1000]; linspace(0, 1001, 3)
    // = [0, 500.5, 1001] → astype(int) = [0, 500, 1001]
    assert(TileGridSpec.linspaceInt(1000, 3).toSeq === Seq(0L, 500L, 1000L))
    assert(TileGridSpec.linspaceInt(1001, 3).toSeq === Seq(0L, 500L, 1001L))
    assert(TileGridSpec.linspaceInt(-2048, 1).toSeq === Seq(0L))
  }

  test("covering tiles: grid spec arithmetic agrees with brute force") {
    val spec = TileGridSpec(2048, 2048, 1024, 256)
    assert(spec.nTiles === 9)
    val tiles = spec.tiles
    forSamples(Gen.zip(Gen.choose(0.0, 2047.999), Gen.choose(0.0, 2047.999))) { case (x, y) =>
      val got = spec.covering(x, y).toSet
      val want = tiles.filter(t =>
        x >= t.minX && x < t.maxX && y >= t.minY && y < t.maxY).map(_.tileId).toSet
      assert(got === want)
      assert(got.nonEmpty) // grid covers the extent
    }
  }

  test("closed-form covering == linear edge scan over random specs × 10⁴ points") {
    // the O(1) candidate-index path must be EXACTLY the old per-row
    // edge scan, including linspace truncation edge cases, points on
    // edges, and out-of-extent points
    def bruteCovering(spec: TileGridSpec, x: Double, y: Double): Set[Long] =
      spec.tiles.filter(t =>
        x >= t.minX && x < t.maxX && y >= t.minY && y < t.maxY).map(_.tileId).toSet
    val specGen = for {
      tile <- Gen.choose(16L, 600L)
      over <- Gen.choose(0L, 15L)
      w <- Gen.choose(1L, 5000L)
      h <- Gen.choose(1L, 5000L)
    } yield TileGridSpec(w, h, tile, math.min(over, tile - 1))
    var points = 0
    forSamples(specGen, n = 40) { spec =>
      val rnd = new scala.util.Random(spec.width * 31 + spec.height * 7 + spec.tileSize)
      (0 until 250).foreach { _ =>
        // in-extent, on-edge, and out-of-extent points all covered
        val x = rnd.nextInt(3) match {
          case 0 => rnd.nextDouble() * spec.width
          case 1 => spec.xEdges(rnd.nextInt(spec.nx)).toDouble
          case _ => rnd.nextDouble() * spec.width * 1.5 - spec.width * 0.25
        }
        val y = rnd.nextInt(3) match {
          case 0 => rnd.nextDouble() * spec.height
          case 1 => spec.yEdges(rnd.nextInt(spec.ny)).toDouble
          case _ => rnd.nextDouble() * spec.height * 1.5 - spec.height * 0.25
        }
        assert(spec.covering(x, y).toSet === bruteCovering(spec, x, y),
          s"spec=$spec x=$x y=$y")
        points += 1
      }
    }
    assert(points === 10000)
  }

  // --- cell index
  test("morton interleave round trip") {
    forSamples(Gen.zip(Gen.choose(0L, (1L << 28) - 1), Gen.choose(0L, (1L << 28) - 1))) { case (x, y) =>
      val m = CellIndex.morton(x, y)
      assert(CellIndex.deinterleave(m & 0x5555555555555555L) === x)
      assert(CellIndex.deinterleave((m >> 1) & 0x5555555555555555L) === y)
    }
  }

  test("encode/decode/parent coherence") {
    val id = CellIndex.encode(1000.0, 500.0, 8, 2048.0, 2048.0)
    assert(CellIndex.level(id) === 8)
    assert(CellIndex.ix(id) === (1000.0 / 2048 * 256).toLong)
    assert(CellIndex.iy(id) === (500.0 / 2048 * 256).toLong)
    val p = CellIndex.parent(id)
    assert(CellIndex.level(p) === 7)
    assert(CellIndex.ix(p) === CellIndex.ix(id) / 2)
  }

  test("neighborhood ring: interior cell has (2r+1)² neighbors, corner clamps") {
    val interior = CellIndex.pack(8, 100, 100)
    assert(CellIndex.neighborhood(interior, 1).length === 9)
    assert(CellIndex.neighborhood(interior, 2).length === 25)
    val corner = CellIndex.pack(8, 0, 0)
    assert(CellIndex.neighborhood(corner, 1).length === 4)
    // an oversized ring (full-grid fallback at a high level) emits the
    // whole grid and is O(output): iteration bounds are clamped, so a
    // ludicrous r doesn't loop (2r+1)² times — this returns promptly
    val high = CellIndex.pack(10, 5, 5) // 1024×1024 grid
    val t0 = System.nanoTime()
    val full = CellIndex.neighborhood(high, 1 << 10)
    assert(full.length === 1024 * 1024)
    assert(CellIndex.neighborhood(high, Int.MaxValue / 4).length === 1024 * 1024)
    assert((System.nanoTime() - t0) < 30e9) // would spin ~(2^29)² unclamped
  }

  test("cell encode clamps out-of-extent points") {
    val id = CellIndex.encode(-5.0, 3000.0, 8, 2048.0, 2048.0)
    assert(CellIndex.ix(id) === 0)
    assert(CellIndex.iy(id) === 255)
  }
}
