package graft.grid

/** Overlapping tile grid (pure Scala): the one tiler behind
  * `assignTiles`, `synthesize`, the raster path and
  * `GraftPipeline.predict`.
  *
  * Integer-exact re-creation of the reference tiler semantics
  * (tcd `src/tcd_pipeline/data/tiling.py:47-173`):
  *  - per axis, n = 1 if extent <= tile else 1 + ceil((extent-tile)/(tile-overlap))
  *  - edges = numpy `linspace(0, extent-tile, n).astype(int)`
  *    (float64 step, truncation toward zero)
  *  - overlap forced to 0 when the image fits in one tile on BOTH axes
  *  - tiles y-major (id = row * nx + col), each exactly tile_size (may
  *    over-extend the image; readers pad — tiling.py:206-240)
  * Golden contract: tests/unit/test_tiling.py:15-77 (2048² @1024/256 →
  * 9 tiles, all 1024²; @1024/0 → 4; @2048/256 → 1; @4096/256 → 1).
  */
object TileGridSpec {

  final case class Tile(tileId: Long, minX: Long, minY: Long, maxX: Long, maxY: Long)

  /** numpy linspace(0, stop, n).astype(int): i * (stop/(n-1)) truncated. */
  def linspaceInt(stop: Long, n: Int): Array[Long] = {
    if (n == 1) return Array(0L)
    val step = stop.toDouble / (n - 1)
    Array.tabulate(n)(i => (i * step).toLong)
  }

  def nTiles(extent: Long, tileSize: Long, overlap: Long): Int = {
    if (extent <= tileSize) 1
    else 1 + math.ceil((extent - tileSize).toDouble / (tileSize - overlap)).toInt
  }

  /** Python `round` (banker's / half-even) to Long. */
  @inline private def pyRound(x: Double): Long = math.rint(x).toLong

  /** The GSD scaling numbers of [[atGsd]]: (source tile, source
    * overlap, scale) with `scale = round(targetGsd / srcGsd, 6)` and
    * the windows `round(tileSize * scale)` / `round(overlap * scale)`
    * (Python half-even rounding in both places). Either GSD being
    * unknown/invalid (≤ 0) degrades to scale 1 (warn-and-continue),
    * and the rounded overlap is clamped into [0, srcTile) so extreme
    * downscales keep a VALID grid (overlap ≥ tile would crash the
    * spec, a negative one would leave gaps). */
  def geoScale(tileSize: Long, minOverlap: Long,
               srcGsd: Double, targetGsd: Double): (Long, Long, Double) = {
    if (srcGsd <= 0 || targetGsd <= 0) return (tileSize, minOverlap, 1.0)
    val scale = BigDecimal(targetGsd / srcGsd)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    val srcTile = math.max(1L, pyRound(tileSize * scale))
    val srcOverlap = math.min(srcTile - 1, math.max(0L, pyRound(minOverlap * scale)))
    (srcTile, srcOverlap, scale)
  }

  /** GSD-aware grid spec (P13, TiledGeoImage, data/tiling.py:345-411
    * with imagedataset.py:100-118's fallback): tile windows in SOURCE
    * pixels sized by [[geoScale]], so a rescale of each window to the
    * target GSD (the reference's blur + bilinear, tiling.py:425-436)
    * lands back on `tileSize`. Unknown source resolution (srcGsd <= 0)
    * degrades to the plain grid at scale 1 (the reference's
    * warn-and-continue). Returns (spec, scale). */
  def atGsd(width: Long, height: Long, tileSize: Long, minOverlap: Long,
            srcGsd: Double, targetGsd: Double): (TileGridSpec, Double) = {
    val (srcTile, srcOverlap, scale) = geoScale(tileSize, minOverlap, srcGsd, targetGsd)
    (TileGridSpec(width, height, srcTile, srcOverlap), scale)
  }

  /** Largest index i with edges(i) <= v, or -1. Closed-form candidate
    * from the linspace stride, then an O(1) ±verify walk — the edges
    * are floor(i*step), so the arithmetic candidate is off by at most
    * the truncation error. Constant time per row even on a grid with
    * 10^5 edges per axis (a per-row linear scan there would be the
    * projection's bottleneck). */
  def lastEdgeLE(edges: Array[Long], v: Double): Int = {
    val n = edges.length
    val step = if (n > 1) edges(n - 1).toDouble / (n - 1) else 0.0
    var c = if (step <= 0) n - 1
            else math.min((n - 1).toLong, math.max(0L, (v / step).toLong)).toInt
    while (c + 1 < n && edges(c + 1) <= v) c += 1
    while (c >= 0 && edges(c) > v) c -= 1
    c
  }

  /** Smallest index i with edges(i) + tileSize > v, or edges.length. */
  def firstEdgeGT(edges: Array[Long], tileSize: Long, v: Double): Int = {
    val n = edges.length
    val w = v - tileSize
    val step = if (n > 1) edges(n - 1).toDouble / (n - 1) else 0.0
    var c = if (step <= 0) 0
            else math.min((n - 1).toLong, math.max(0L, math.ceil(w / step).toLong)).toInt
    while (c > 0 && edges(c - 1) > w) c -= 1
    while (c < n && edges(c) <= w) c += 1
    c
  }
}

/** Immutable, serializable description of one overlapping tile grid with
  * precomputed edge arrays — broadcast-friendly (a few hundred bytes) and
  * shared by the covering-tiles expression so the per-row work is
  * closed-form index arithmetic over cached edges, no allocation beyond
  * the result.
  */
final case class TileGridSpec(width: Long, height: Long, tileSize: Long, minOverlap: Long)
    extends Serializable {
  import TileGridSpec._

  // strictly less: overlap == tileSize gives stride 0, which the
  // reference also cannot process (ZeroDivisionError in _n_tiles); a
  // negative overlap strides past the tile and leaves uncovered gaps
  // whose pages `covering` would silently drop
  require(minOverlap < tileSize, "Overlap must be less than tile size.")
  require(tileSize > 0 && minOverlap >= 0,
    s"tile size must be positive and overlap non-negative (tile=$tileSize, overlap=$minOverlap)")
  val overlap: Long =
    if (width - tileSize <= 0 && height - tileSize <= 0) 0L else minOverlap
  val nx: Int = TileGridSpec.nTiles(width, tileSize, overlap)
  val ny: Int = TileGridSpec.nTiles(height, tileSize, overlap)
  val xEdges: Array[Long] = linspaceInt(width - tileSize, nx)
  val yEdges: Array[Long] = linspaceInt(height - tileSize, ny)
  def nTiles: Int = nx * ny

  def tile(id: Long): Tile = {
    val xi = (id % nx).toInt
    val yi = (id / nx).toInt
    Tile(id, xEdges(xi), yEdges(yi), xEdges(xi) + tileSize, yEdges(yi) + tileSize)
  }

  def tiles: Array[Tile] = Array.tabulate(nTiles)(i => tile(i.toLong))

  /** Ids of tiles whose half-open box [min, min+tile) contains (x, y).
    * Hot-path: called once per input row in the page⨝tile join. */
  def covering(x: Double, y: Double): Array[Long] = {
    // the edges are non-decreasing (linspace), so per axis the hit set
    // is a contiguous index range found in O(1) from the closed-form
    // stride candidate (± truncation verify) — constant per row even
    // on one huge grid instead of many small regions
    val xi0 = firstEdgeGT(xEdges, tileSize, x)
    val xi1 = lastEdgeLE(xEdges, x)
    val yi0 = firstEdgeGT(yEdges, tileSize, y)
    val yi1 = lastEdgeLE(yEdges, y)
    if (xi0 > xi1 || yi0 > yi1) return Array.emptyLongArray
    val out = new Array[Long]((xi1 - xi0 + 1) * (yi1 - yi0 + 1))
    var k = 0
    var yi = yi0
    while (yi <= yi1) {
      var xi = xi0
      while (xi <= xi1) { out(k) = yi.toLong * nx + xi; k += 1; xi += 1 }
      yi += 1
    }
    out
  }
}
