package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.grid.{CellIndex, TileGridSpec}

/** Geocode / tile-assignment / spatial-join / kNN operators over the
  * pages (or any point-bearing) table. All joins are cell-discretized
  * equi-joins + residual exact predicates (SURVEY.md §2.4) so Catalyst
  * plans them as hash/sort-merge joins with pushdown intact — no custom
  * strategy, no index structure.
  */
object GeoOps {

  /** Pages per region: each region is one reference-image extent
    * (2048²) holding ~6k pages — the unit of merge-phase independence
    * and of linear scale-out (SURVEY.md §3.1 Spark lifecycle). */
  val PagesPerRegion = 6000L

  def withRegion(pages: DataFrame): DataFrame =
    pages.withColumn("region", col("i").divide(PagesPerRegion).cast("long"))

  object TileGrid {
    val ExtentX = 2048.0
    val ExtentY = 2048.0
    /** The reference 9-tile golden grid (tests/unit/test_tiling.py:67-69). */
    val Default: TileGridSpec = TileGridSpec(2048, 2048, 1024, 256)
  }

  /** page ⨝ tile assignment: per-row closed-form covering-tile ids
    * (no join node at all — the grid is arithmetic, the "spatial join
    * becomes a generator" trick), plus tile bounds via literal edge
    * lookup. Output grain: one row per (page, covering tile). */
  def assignTiles(pages: DataFrame, spec: TileGridSpec = TileGrid.Default): DataFrame = {
    val xEdges = typedlit(spec.xEdges)
    val yEdges = typedlit(spec.yEdges)
    withRegion(pages)
      .withColumn("tile_id", explode(covering_tiles(col("x"), col("y"), spec)))
      .withColumn("tile_min_x",
        element_at(xEdges, (col("tile_id") % spec.nx).cast("int") + 1).cast("double"))
      .withColumn("tile_min_y",
        element_at(yEdges, (col("tile_id") / spec.nx).cast("int") + 1).cast("double"))
  }

  /** Point-in-polygon join: points (x, y) against a polygon relation
    * (poly_id, poly ARRAY<DOUBLE>, bbox columns). Small polygon sides
    * are broadcast (the reference's rtree-over-small-side pattern,
    * instanceprocessor.py:178-199); the bbox range predicate prunes
    * before the exact ray-cast residual. */
  def pipJoin(points: DataFrame, polys: DataFrame): DataFrame = {
    points.join(broadcast(polys),
      col("x") >= col("poly_min_x") && col("x") <= col("poly_max_x") &&
      col("y") >= col("poly_min_y") && col("y") <= col("poly_max_y") &&
      st_contains_point(col("poly"), col("x"), col("y")))
  }

  /** Exact brute-force kNN for a small query set (broadcast) — the
    * correctness baseline; oracle-checkable in SQL. Squared euclidean
    * distance, ties broken by neighbor id. */
  def knnExact(points: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cand = points.select(col("i").as("nbr_id"), col("x").as("nx"), col("y").as("ny"))
    val q = queries.select(col("i").as("query_id"), col("x").as("qx"), col("y").as("qy"))
    val d2 = (col("nx") - col("qx")) * (col("nx") - col("qx")) +
             (col("ny") - col("qy")) * (col("ny") - col("qy"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("nbr_id"))
    cand.join(broadcast(q), col("nbr_id") =!= col("query_id"))
      .withColumn("dist2", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("dist2"))
  }

  /** Overlapping-neighbors self-join (J2, util.py:531-554): all pairs
    * of boxes that intersect, found by a cell-discretized self
    * equi-join. Deduplication is join-free: a pair is reported only by
    * the cell containing the top-left corner of the bbox intersection,
    * so no distinct() shuffle is needed. Input: (region, id, min_x,
    * min_y, max_x, max_y). Output: (region, a, b) with a < b. */
  def overlappingPairs(boxes: DataFrame, cellSize: Double = 64.0): DataFrame = {
    def withCells(df: DataFrame, p: String) = df.select(
        col("region").as(s"${p}region"), col("id").as(s"${p}id"),
        col("min_x").as(s"${p}min_x"), col("min_y").as(s"${p}min_y"),
        col("max_x").as(s"${p}max_x"), col("max_y").as(s"${p}max_y"))
      .withColumn("cx", explode(sequence(
        floor(col(s"${p}min_x") / cellSize), floor(col(s"${p}max_x") / cellSize))))
      .withColumn("cy", explode(sequence(
        floor(col(s"${p}min_y") / cellSize), floor(col(s"${p}max_y") / cellSize))))
    val l = withCells(boxes, "l_")
    val r = withCells(boxes, "r_")
    l.join(r,
        col("l_region") === col("r_region") &&
        l("cx") === r("cx") && l("cy") === r("cy") &&
        col("l_id") < col("r_id") &&
        bbox_intersects(col("l_min_x"), col("l_min_y"), col("l_max_x"), col("l_max_y"),
          col("r_min_x"), col("r_min_y"), col("r_max_x"), col("r_max_y")) &&
        floor(greatest(col("l_min_x"), col("r_min_x")) / cellSize) === l("cx") &&
        floor(greatest(col("l_min_y"), col("r_min_y")) / cellSize) === l("cy"))
      .select(col("l_region").as("region"), col("l_id").as("a"), col("r_id").as("b"))
  }

  /** Two-phase salted aggregation for hot cells (north rule: "skew
    * handled by salted repartitioning"). Phase 1 groups on
    * (cell, hash(i) % salt) so a hot cell's rows spread over `salt`
    * reducers; phase 2 merges the partials. Result is identical to a
    * plain groupBy(cell).count() — verified in tests — but no single
    * reducer ever sees a hot cell's full row set. AQE skew-join
    * splitting handles the join-side analogue automatically. */
  def saltedCellCounts(pages: DataFrame, level: Int = 8, salt: Int = 16): DataFrame = {
    pages
      .withColumn("cell", cell_encode(col("x"), col("y"), level,
        TileGrid.ExtentX, TileGrid.ExtentY))
      .withColumn("salt", pmod(hash(col("i")), lit(salt)))
      .groupBy(col("cell"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("cell"))
      .agg(sum(col("partial")).as("cnt"))
  }

  /** EXACT grid kNN with adaptive ring expansion: phase 1 runs the
    * ring-1 candidate join; a query's result is provably exact when its
    * kth-candidate distance is no greater than its guaranteed covered
    * radius (distance from the query point to the edge of the 3×3 cell
    * block). Queries that fail the guarantee (or found < k candidates)
    * re-run in phase 2 with a per-query ring sized to the needed
    * radius. Both phases are cell equi-joins; the expansion set is
    * tiny for sane densities, so the common case stays one shuffle. */
  def knnGridExact(points: DataFrame, k: Int, level: Int = 5): DataFrame = {
    val cellSize = TileGrid.ExtentX / (1L << level)
    // phase1 feeds three consumers (guarantee check, anti-join, output)
    // — persist so the dominant join runs once
    val phase1 = knnGrid(points, k, level).persist()
    val cellOf = cell_encode(col("x"), col("y"), level, TileGrid.ExtentX, TileGrid.ExtentY)
    val pts = points.select(col("i"), col("x"), col("y")).withColumn("cell", cellOf)
    // guaranteed covered radius of the 3x3 block around the query
    val coveredR = {
      val lx = col("qx") - (floor(col("qx") / cellSize) - 1) * cellSize
      val rx = (floor(col("qx") / cellSize) + 2) * cellSize - col("qx")
      val ly = col("qy") - (floor(col("qy") / cellSize) - 1) * cellSize
      val ry = (floor(col("qy") / cellSize) + 2) * cellSize - col("qy")
      least(lx, rx, ly, ry)
    }
    val perQuery = phase1.groupBy(col("query_id"))
      .agg(count(lit(1)).as("found"), max(col("dist2")).as("kth_d2"))
    val queriesAll = pts.select(col("i").as("query_id"), col("x").as("qx"),
      col("y").as("qy"), col("cell"))
    val flagged = queriesAll.join(perQuery, Seq("query_id"), "left")
      .withColumn("covered_r", coveredR)
      .filter(col("found").isNull || col("found") < k ||
        sqrt(col("kth_d2")) >= col("covered_r")) // >= : ties at the block edge
      // found < k: the kth distance UNDERestimates the needed radius
      // (the missing neighbors are beyond every found one) → full grid
      // for those rare queries; otherwise ring sized to the kth
      // distance. Either way the ring is CAPPED at the grid size —
      // ring = 2^level already covers every cell from any center, so a
      // larger value only inflates the candidate explode (neighborhood
      // clamps, but the cap keeps the declared bound tight at high
      // levels on sparse data)
      .withColumn("ring",
        least(when(col("found").isNull || col("found") < k, lit(1 << level))
          .otherwise(ceil(sqrt(col("kth_d2")) / cellSize) + 1), lit(1 << level))
          .cast("int"))
      .persist()
    // phase 2: per-query ring of the required radius
    val ringUdf = udf((cell: Long, r: Int) => CellIndex.neighborhood(cell, r))
    val q2 = flagged.select(col("query_id"), col("qx"), col("qy"),
      explode(ringUdf(col("cell"), col("ring"))).as("cell"))
    val cand = pts.select(col("cell"), col("i").as("nbr_id"),
      col("x").as("nx"), col("y").as("ny"))
    val d2 = (col("nx") - col("qx")) * (col("nx") - col("qx")) +
             (col("ny") - col("qy")) * (col("ny") - col("qy"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("nbr_id"))
    val phase2 = q2.join(cand, Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("dist2", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("dist2"))
    // localCheckpoint (eager) cuts the lineage so the two scratch
    // persists can be dropped deterministically — repeated calls no
    // longer accrete executor storage. (At cluster scale you'd commit
    // the result through IcebergLite instead of checkpointing.)
    val out = phase1.join(flagged.select("query_id"), Seq("query_id"), "left_anti")
      .unionByName(phase2)
      .localCheckpoint()
    phase1.unpersist()
    flagged.unpersist()
    out
  }

  /** Scalable grid kNN (SURVEY.md J8/W3): candidates = neighbor-cell
    * ring at `level` (self equi-join on cell id), then per-query top-k
    * window. Exact whenever the true kth neighbor lies within the ring
    * radius (see [[knnGridExact]] for the guaranteed-exact two-phase
    * variant). This is the 100-TB path: shuffle is one equi-join on a
    * bigint. */
  def knnGrid(points: DataFrame, k: Int, level: Int = 5): DataFrame = {
    val spark = points.sparkSession
    val cellOf = cell_encode(col("x"), col("y"), level, TileGrid.ExtentX, TileGrid.ExtentY)
    val pts = points.select(col("i"), col("x"), col("y")).withColumn("cell", cellOf)
    // candidate cells for each query = 3x3 ring around its own cell
    val ringUdf = udf((cell: Long) => CellIndex.neighborhood(cell, 1))
    val q = pts.select(col("i").as("query_id"), col("x").as("qx"), col("y").as("qy"),
      explode(ringUdf(col("cell"))).as("cell"))
    val cand = pts.select(col("cell"), col("i").as("nbr_id"),
      col("x").as("nx"), col("y").as("ny"))
    val d2 = (col("nx") - col("qx")) * (col("nx") - col("qx")) +
             (col("ny") - col("qy")) * (col("ny") - col("qy"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("nbr_id"))
    q.join(cand, Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("dist2", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("dist2"))
  }
}
