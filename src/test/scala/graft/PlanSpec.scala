package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.GeoOps
import graft.tables.PagesGen

/** Physical-plan assertions (SURVEY.md §4): the declarative operators
  * must keep Catalyst's free optimizations — column pruning, predicate
  * pushdown, whole-stage codegen around the custom expressions,
  * broadcast for small join sides — and the salted two-phase aggregate
  * must equal the plain one. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan prunes columns and pushes filters") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      s"filter pushdown missing:\n$plan")
  }

  test("cell_encode + covering_tiles stay inside one WholeStageCodegen span") {
    val pages = PagesGen.pages(spark, 100)
    val assigned = GeoOps.assignTiles(pages)
    val plan = planOf(assigned)
    assert(plan.contains("cell_encode") || plan.contains("covering_tiles")
      || plan.contains("Generate explode"), s"expressions missing:\n$plan")
    // the projection feeding the generator is codegen'd ("*(1)" = span 1)
    assert(plan.contains("*(1) Generate"), s"generator not in codegen span:\n$plan")
    // there is NO join node: tile assignment is a generator
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    // the generator's url/text kernel sits in the same span's projection,
    // and nothing on the path is interpreted
    assert(plan.linesIterator.exists(l => l.contains("*(1) Project [") &&
      l.contains("pages_url(") && l.contains("pages_text(")), s"kernel not in *(1):\n$plan")
    val fallbacks = assigned.queryExecution.executedPlan.flatMap(_.expressions.flatMap(
      _.collect { case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => e }))
    assert(fallbacks.isEmpty, s"CodegenFallback on the tile-assign path: $fallbacks")
  }

  test("pipJoin broadcasts the polygon side") {
    val pts = GeoOps.withRegion(PagesGen.pages(spark, 100))
      .select(col("i"), col("region"), col("x"), col("y"))
    val polys = spark.range(3).toDF("poly_id")
      .withColumn("poly", typedlit(Array(0.0, 0.0, 50.5, 0.0, 25.0, 40.5)))
      .withColumn("poly_min_x", lit(0.0)).withColumn("poly_max_x", lit(50.5))
      .withColumn("poly_min_y", lit(0.0)).withColumn("poly_max_y", lit(40.5))
    val plan = planOf(GeoOps.pipJoin(pts, polys))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"no broadcast join:\n$plan")
  }

  test("salted two-phase cell counts equal the plain aggregation") {
    val pages = GeoOps.withRegion(PagesGen.pages(spark, 5000))
    val salted = GeoOps.saltedCellCounts(pages, level = 8, salt = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val plain = pages
      .withColumn("cell", cell_encode(col("x"), col("y"), 8, 2048.0, 2048.0))
      .groupBy("cell").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(salted === plain)
    // the hot cluster (i % 41 == 0 → 13x11 px spot) shows up as hot cells
    val hot = plain.values.max
    assert(hot > 10 * plain.values.sum / plain.size, "hot cell not planted?")
  }

  test("overlappingPairs (J2) equals brute force, dedup-free") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val boxes = (0 until 300).map { i =>
      val x = rnd.nextDouble() * 500; val y = rnd.nextDouble() * 500
      (0L, i.toLong, x, y, x + 10 + rnd.nextDouble() * 120, y + 10 + rnd.nextDouble() * 120)
    }
    val df = boxes.toDF("region", "id", "min_x", "min_y", "max_x", "max_y")
    val got = GeoOps.overlappingPairs(df).select("a", "b")
      .as[(Long, Long)].collect()
    assert(got.length === got.distinct.length, "pair reported twice")
    val want = (for {
      a <- boxes; b <- boxes
      if a._2 < b._2 &&
        a._3 <= b._5 && b._3 <= a._5 && a._4 <= b._6 && b._4 <= a._6
    } yield (a._2, b._2)).toSet
    assert(got.toSet === want)
  }

  test("SQL surface: expressions callable from spark.sql after register") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT st_area(array(0D,0D,10D,0D,10D,10D,0D,10D)) AS a,
        |  st_contains_point(array(0D,0D,10D,0D,10D,10D,0D,10D), 5D, 5D) AS inside,
        |  cell_encode(100D, 200D, 8, 2048D, 2048D) AS cell,
        |  st_area(st_affine(array(0D,0D,10D,0D,10D,10D,0D,10D), 2D, 0D, 0D, 2D, 5D, 5D)) AS scaled,
        |  st_centroid(array(0D,0D,10D,0D,10D,10D,0D,10D))[0] AS cx""".stripMargin).head()
    assert(row.getDouble(0) === 100.0 && row.getBoolean(1))
    assert(row.getLong(2) === graft.grid.CellIndex.encode(100, 200, 8, 2048, 2048))
    assert(row.getDouble(3) === 400.0 && row.getDouble(4) === 5.0)
  }

  test("cell_encode rejects a level outside [0, MaxLevel] in SQL and the column API") {
    GraftExtensions.register(spark)
    def causes(t: Throwable): Iterator[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    def rejected(level: Int)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(s"level $level outside [0, 28]")), e.toString)
    }
    // level 29 would let distinct cells share an id (28-bit interleave)
    for (level <- Seq(29, -1)) {
      rejected(level)(spark.sql(s"SELECT cell_encode(100D, 200D, $level, 2048D, 2048D)").collect())
      rejected(level)(spark.range(1).select(cell_encode(lit(100.0), lit(200.0), level, 2048.0, 2048.0)))
    }
    // a non-integral or NULL level is refused too, not truncated or NPE'd
    for ((level, why) <- Seq("8.5" -> "must be an integer, got 8.5", "NULL" -> "must not be NULL")) {
      val e = intercept[Exception](spark.sql(s"SELECT cell_encode(100D, 200D, $level, 2048D, 2048D)").collect())
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(s"cell_encode: argument 3 $why")), e.toString)
    }
    // both ends of the range still encode
    for (level <- Seq(0, graft.grid.CellIndex.MaxLevel)) {
      val got = spark.sql(s"SELECT cell_encode(100D, 200D, $level, 2048D, 2048D)").head().getLong(0)
      assert(got === graft.grid.CellIndex.encode(100, 200, level, 2048, 2048))
      assert(spark.range(1).select(cell_encode(lit(100.0), lit(200.0), level, 2048.0, 2048.0))
        .head().getLong(0) === got)
    }
  }

  test("knnGridExact equals brute-force kNN on sparse points (ring-1 insufficient)") {
    import spark.implicits._
    // 120 points in 2048^2 at level 5 (64-px cells): most cells empty,
    // so ring-1 misses true neighbors and phase 2 must kick in
    val rnd = new scala.util.Random(11)
    val pts = (0 until 120).map(i =>
      (i.toLong, rnd.nextDouble() * 2048, rnd.nextDouble() * 2048))
      .toDF("i", "x", "y")
    val exact = GeoOps.knnExact(pts, pts, k = 3)
      .select("query_id", "rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val grid = GeoOps.knnGridExact(pts, k = 3, level = 5)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().map(t => (t._1, t._2.toLong, t._3)).toSet
    assert(grid === exact)
    // and plain ring-1 knnGrid is indeed NOT exact here (sanity that
    // the test exercises the expansion path)
    val ring1 = GeoOps.knnGrid(pts, k = 3, level = 5)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().map(t => (t._1, t._2.toLong, t._3)).toSet
    assert(ring1 !== exact)
  }

  test("knnGridExact at a high level on sparse points: ring capped, still exact") {
    import spark.implicits._
    // 10 points in a 256×256-cell grid (level 8): nearly every cell is
    // empty, so every query takes the found<k full-grid fallback. The
    // ring cap (≤ 2^level) and the clamped neighborhood keep the
    // candidate explode at grid size instead of (2·ring+1)² — and the
    // result must still equal brute force exactly.
    val rnd = new scala.util.Random(7)
    val pts = (0 until 10).map(i =>
      (i.toLong, rnd.nextDouble() * 2048, rnd.nextDouble() * 2048))
      .toDF("i", "x", "y")
    val exact = GeoOps.knnExact(pts, pts, k = 4)
      .select("query_id", "rank", "nbr_id").as[(Long, Long, Long)].collect().toSet
    val grid = GeoOps.knnGridExact(pts, k = 4, level = 8)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)]
      .collect().map(t => (t._1, t._2.toLong, t._3)).toSet
    assert(grid === exact)
  }

  test("cell decode is a codegen'd expression — no ScalaUDF in the cell-agg plans") {
    val sf = "/root/testdata/sf0.001"
    Seq("geo_cell_agg", "geo_cell_salted").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = planOf(df)
      assert(!plan.contains("UDF"), s"$q plan still has a UDF node:\n$plan")
      // executedPlan's toString elides aggregate result expressions —
      // the optimized plan shows the CellCoord decodes
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("cell_ix") && opt.contains("cell_iy"),
        s"$q missing the CellCoord expressions:\n$opt")
    }
    // encode→decode round trip in pure column space
    import spark.implicits._
    val df = spark.range(1000).toDF("i")
      .withColumn("x", (col("i") % 211).cast("double") * 9.7)
      .withColumn("y", (col("i") % 197).cast("double") * 10.3)
      .withColumn("cell", cell_encode(col("x"), col("y"), 8, 2048.0, 2048.0))
      .select(col("x"), col("y"), cell_ix(col("cell")).as("ix"), cell_iy(col("cell")).as("iy"))
    df.as[(Double, Double, Long, Long)].collect().foreach { case (x, y, ix, iy) =>
      assert(ix === math.floor(x / 8).toLong && iy === math.floor(y / 8).toLong)
    }
  }

  test("q1 aggregate uses partial aggregation (two HashAggregate phases)") {
    val df = SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    assert("HashAggregate".r.findAllMatchIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("flagship entry is the fused one-shuffle pipeline") {
    val plan = planOf(SparkEntry.entry(spark))
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(shuffles === 1, s"expected exactly one shuffle Exchange:\n$plan")
  }

  test("crown_area_hist plan: q90 joined back via BROADCAST, partial count aggregation") {
    val df = SparkEntry.queries("crown_area_hist")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    // the per-group q90 side is tiny (regions × classes rows) — it must
    // come back as a broadcast join, not a shuffle join over the data
    assert(plan.contains("BroadcastHashJoin"), s"q90 join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
    // the final bin counting partial-aggregates map-side
    assert("HashAggregate".r.findAllMatchIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("geo_union_area plan: ONE user exchange on the group key, aggregate co-partitioned after it") {
    val df = SparkEntry.queries("geo_union_area")(spark, "/root/testdata/sf0.001")
    val plan = planOf(df)
    // the query repartitions on g BEFORE aggregating (sparse groups:
    // map-side combine has nothing to combine, and AQE's size-based
    // coalescing would serialize the CPU-heavy reduce) — so the plan
    // must show exactly ONE user-specified exchange, with both
    // aggregate phases running co-partitioned after it and NO second
    // ENSURE_REQUIREMENTS exchange between them
    assert("ObjectHashAggregate".r.findAllMatchIn(plan).size >= 2,
      s"union aggregate not planned as partial+final:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(shuffles === 1, s"expected exactly one shuffle:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL") || plan.contains("REPARTITION_BY_NUM"),
      s"group-key repartition missing (AQE would coalesce the reduce):\n$plan")
    // the dense-group map-side-combine shape (groupBy direct) is
    // asserted separately on a raw groupBy over the same aggregate
    val dense = spark.range(0, 1000).selectExpr("id % 3 AS g",
        "array(0D, 0D, 4D, 0D, 4D, 4D, 0D, 4D) AS poly")
      .groupBy(col("g")).agg(graft.functions.UnionAggApi.st_union_agg(col("poly")).as("u"))
    val densePlan = planOf(dense)
    val aggIdx = densePlan.indexOf("partial_unionagg")
    val exIdx = densePlan.indexOf("Exchange hashpartitioning")
    assert(aggIdx > exIdx && exIdx >= 0, // partial BELOW the exchange in plan text = runs before it
      s"groupBy-direct shape lost its map-side combine:\n$densePlan")
  }

  test("nmsMerge and confidenceTiles over the partitioned crowns view plan no exchange") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.graft.Bridge
    import graft.operators.{CrownOps, RasterOps}
    val spec = GeoOps.TileGrid.Default
    val crowns = CrownOps.synthesize(spark, GeoOps.assignTiles(PagesGen.pages(spark, 2000), spec), spec)
    // the exchanges of the plan as planned, before adaptive execution runs it
    def exchanges(ds: Dataset[_]): Seq[ShuffleExchangeExec] =
      (ds.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case e: ShuffleExchangeExec => e }
    def merge(c: Dataset[CrownOps.Crown]) = CrownOps.nmsMerge(spark, c, 0.7, 0.3, 0.5)
    def conf(c: Dataset[CrownOps.Crown]) = RasterOps.confidenceTiles(spark, c, spec)

    val byRegionClass = CrownOps.byRegionClass(crowns)
    assert(exchanges(byRegionClass).map(_.shuffleOrigin) === Seq(REPARTITION_BY_COL))
    assert(exchanges(byRegionClass).head.numPartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val view = Bridge.partitionedView(byRegionClass)
    for (ds <- Seq(merge(view), conf(view)))
      assert(exchanges(ds).isEmpty, s"exchange over the view:\n${ds.queryExecution.executedPlan}")
    for (ds <- Seq(merge(crowns), conf(crowns)))
      assert(exchanges(ds).size === 1, s"raw crowns:\n${ds.queryExecution.executedPlan}")
    // a plan with no hash partitioning has none to declare
    val err = intercept[IllegalArgumentException](Bridge.partitionedView(crowns))
    assert(err.getMessage.contains("hash-partitioned"))
  }
}
