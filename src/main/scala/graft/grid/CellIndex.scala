package graft.grid

/** Hierarchical grid-cell index (H3/S2-style, quadtree/Morton flavor)
  * over a finite planar extent — pure Scala, zero Spark deps.
  *
  * A level-L index divides the extent into 2^L × 2^L cells. The cell id
  * packs the level (6 bits) and the Morton (Z-order) interleave of the
  * cell's (ix, iy) (up to 2×28 bits):
  *
  *   id = (level << 58) | morton(ix, iy)
  *
  * Z-order gives the two properties spatial joins need:
  *  - parent(id) is a 2-bit shift → hierarchical containment;
  *  - all descendants of a cell form ONE contiguous id range →
  *    cell-prefix range/equi joins and partition pruning work on a
  *    plain BIGINT column (the "turn spatial join into equi-join"
  *    design, SURVEY.md §2.4).
  *
  * Replaces the reference's rtree candidate indexes
  * (/root/reference/src/tcd_pipeline/cache/semantic.py:101-155,
  * postprocess/instanceprocessor.py:182-196) with closed-form
  * arithmetic that whole-stage-codegens.
  */
object CellIndex {

  /** Deepest level whose cell coordinates fit [[interleave]]'s 28 bits. */
  val MaxLevel = 28

  /** Morton interleave of two 28-bit ints (x in even bits, y in odd). */
  def morton(ix: Long, iy: Long): Long = interleave(ix) | (interleave(iy) << 1)

  /** Classic magic-number bit spread: 28-bit input → 56-bit output with
    * input bits at even positions. */
  @inline def interleave(v0: Long): Long = {
    var v = v0 & 0x0FFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  /** Inverse of [[interleave]]: collect even bits. */
  @inline def deinterleave(v0: Long): Long = {
    var v = v0 & 0x5555555555555555L
    v = (v | (v >> 1))  & 0x3333333333333333L
    v = (v | (v >> 2))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v >> 4))  & 0x00FF00FF00FF00FFL
    v = (v | (v >> 8))  & 0x0000FFFF0000FFFFL
    v = (v | (v >> 16)) & 0x00000000FFFFFFFFL
    v
  }

  /** Encode a point in world coords to its level-L cell id. Points are
    * clamped into the extent (the geocode projection guarantees
    * in-extent coords; clamping keeps the expression total). */
  def encode(x: Double, y: Double, level: Int,
             extentX: Double, extentY: Double): Long = {
    val n = 1L << level
    var ix = math.floor(x / extentX * n).toLong
    var iy = math.floor(y / extentY * n).toLong
    if (ix < 0) ix = 0; if (ix >= n) ix = n - 1
    if (iy < 0) iy = 0; if (iy >= n) iy = n - 1
    pack(level, ix, iy)
  }

  def pack(level: Int, ix: Long, iy: Long): Long =
    (level.toLong << 58) | morton(ix, iy)

  def level(id: Long): Int = ((id >> 58) & 0x3F).toInt
  def ix(id: Long): Long = deinterleave(id & ((1L << 58) - 1))
  def iy(id: Long): Long = deinterleave((id & ((1L << 58) - 1)) >> 1)

  /** Parent cell at level-1 (2-bit Morton shift). */
  def parent(id: Long): Long = {
    val l = level(id)
    require(l > 0, "root has no parent")
    ((l - 1).toLong << 58) | ((id & ((1L << 58) - 1)) >> 2)
  }

  /** Ring of neighbor cell ids at Chebyshev distance <= r (the (2r+1)²
    * block, clamped to the grid) — kNN candidate generation (SURVEY.md
    * J8). Includes the center cell. */
  def neighborhood(id: Long, r: Int): Array[Long] = {
    val l = level(id)
    val n = 1L << l
    val cx = ix(id); val cy = iy(id)
    // clamp the ITERATION bounds, not just the emitted cells: with an
    // oversized r (e.g. the full-grid kNN fallback at a high level)
    // the unclamped (2r+1)² loop would spin over out-of-grid indices —
    // this way cost is O(cells emitted), never O(r²)
    val x0 = math.max(0L, cx - r); val x1 = math.min(n - 1, cx + r)
    val y0 = math.max(0L, cy - r); val y1 = math.min(n - 1, cy + r)
    if (x0 > x1 || y0 > y1) return Array.emptyLongArray
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var k = 0
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out(k) = pack(l, x, y); k += 1; x += 1 }
      y += 1
    }
    out
  }
}
