package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftPipeline
import graft.functions.UnionAggApi
import graft.jobs.CrownJob
import graft.operators.{CrownOps, GeoOps}
import graft.tables.{GeoTiffIO, IcebergLite, PagesGen}

/** What every workload gets from the run: the session, the tracer (spans are
  * no-ops unless tracing), the seed and a scratch directory for its sinks. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, dir: Path, cores: Int) {
  val partitions: Int = cores * 4
  def work(name: String): Path = {
    val p = dir.resolve("work").resolve(name)
    Files.createDirectories(p.getParent)
    Seeds.deleteTree(p)
    p
  }
}

/** A page-index window [start, start + pages) made of whole regions. */
final case class Window(start: Long, pages: Long) {
  require(start % GeoOps.PagesPerRegion == 0 && pages % GeoOps.PagesPerRegion == 0)
  def firstRegion: Long = start / GeoOps.PagesPerRegion
  def regions: Long = pages / GeoOps.PagesPerRegion
  def region(r: Long): Window = Window(r * GeoOps.PagesPerRegion, GeoOps.PagesPerRegion)
  /** The generated pages, through the generator's public column logic. */
  def df(ctx: Ctx): DataFrame =
    PagesGen.projectColumns(ctx.spark.range(start, start + pages, 1, ctx.partitions).toDF("i"))
}

object Seeds {
  /** Page indices stay below 10^8: from there on the generator's url gains
    * a ninth page digit and the text changes shape. */
  val IndexLimit = 100000000L

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Value in [0, n) drawn from `seed` and a per-use salt. */
  def pick(seed: Long, salt: Long, n: Long): Long = Math.floorMod(mix(seed * 31 + salt), n)

  /** The seed's window of `pages` pages, starting on a region boundary. */
  def window(seed: Long, pages: Long): Window = {
    val starts = (IndexLimit - pages) / GeoOps.PagesPerRegion
    Window(pick(seed, 1, starts) * GeoOps.PagesPerRegion, pages)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally walk.close()
    }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally walk.close()
    }
}

/** One workload: `prepare` builds the seeded inputs (part of set-up),
  * `rep` is one timed repetition, `expect` computes the reference outputs
  * the checks compare against, and `check` lists what is wrong with the
  * last repetition's output. */
trait Workload {
  def name: String
  /** Input pages of one repetition. */
  def pages: Long
  /** Layer groups (Layers.Head, ...) this workload's own calls go through. */
  def path: Set[String]
  /** The seeded page window the traced run profiles its path layers on. */
  def window: Window
  def describe: String
  def prepare(): Unit
  def rep(): Unit
  def expect(): Unit
  def check(): Seq[String]
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "assign" => new Assign(ctx)
    case "predict" => new Predict(ctx)
    case "crownjob" => new CrownJobRun(ctx)
    case "spatial_join" => new SpatialJoin(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The benchmark's own region of a page index (not GeoOps.withRegion). */
  def regionOf: org.apache.spark.sql.Column =
    floor(col("i") / lit(GeoOps.PagesPerRegion)).cast("long")

  def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] = {
    val missing = want.keySet.diff(got.keySet).take(3).map(k => s"$what $k missing")
    val extra = got.keySet.diff(want.keySet).take(3).map(k => s"$what $k unexpected")
    val wrong = want.iterator.filter { case (k, v) => got.get(k).exists(_ != v) }.take(3)
      .map { case (k, v) => s"$what $k: got ${got(k)}, want $v" }
    (missing ++ extra ++ wrong).toSeq
  }
}

/** Tile assignment: pages -> GeoOps.assignTiles -> per-(region, tile) count
  * and crc32(text) checksum. */
final class Assign(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  val name = "assign"
  val pages = 1200000L
  val path = Set(Layers.Head)
  val window: Window = Seeds.window(ctx.seed, pages)
  def describe = s"pages [${window.start}, ${window.start + pages})"
  private var input: DataFrame = _
  private var out: Map[(Long, Long), (Long, Long)] = Map.empty
  private var want: Map[(Long, Long), (Long, Long)] = Map.empty

  private def perTile(df: DataFrame): Map[(Long, Long), (Long, Long)] =
    df.groupBy(col("region"), col("tile_id"))
      .agg(count(lit(1)), sum(crc32(col("text"))))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (r, t, n, c) => (r, t) -> (n, c) }.toMap

  def prepare(): Unit = input = ctx.tracer.span("tables.PagesGen.projectColumns")(window.df(ctx))

  def rep(): Unit = out = ctx.tracer.span("operators.GeoOps.assignTiles") {
    perTile(GeoOps.assignTiles(input).withColumn("tile_id", col("tile_id").cast("long")))
  }

  /** Recount from the tile bounds of TileGridSpec.tiles, as a range join
    * against the half-open tile boxes (no covering_tiles). */
  def expect(): Unit = {
    val tiles = GeoOps.TileGrid.Default.tiles.toSeq
      .map(t => (t.tileId, t.minX.toDouble, t.minY.toDouble, t.maxX.toDouble, t.maxY.toDouble))
      .toDF("tile_id", "tx0", "ty0", "tx1", "ty1")
    want = perTile(input.withColumn("region", Workloads.regionOf)
      .crossJoin(broadcast(tiles))
      .where(col("x") >= col("tx0") && col("x") < col("tx1") &&
        col("y") >= col("ty0") && col("y") < col("ty1")))
  }

  def check(): Seq[String] = Workloads.diff("tile", out, want)
}

/** The user-facing API: GraftPipeline.predict, then the merged instances
  * (serialiseTable), canopyCover and the mosaic through GeoTiffIO.writeTable. */
final class Predict(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  val name = "predict"
  val pages = 72000L
  val path = Set(Layers.Head, Layers.Crowns)
  val window: Window = Seeds.window(ctx.seed, pages)
  private val conf = GraftPipeline.Conf()
  private val sampled = Seq(0L, 1 + Seeds.pick(ctx.seed, 2, window.regions - 1))
    .map(_ + window.firstRegion)
  def describe = s"pages [${window.start}, ${window.start + pages}), checked regions ${sampled.mkString(",")}"
  private var input: DataFrame = _
  private var outDir: Path = _
  private var cover: Array[Row] = Array.empty
  private var want: Map[Long, Set[Merged]] = Map.empty

  /** A merged instance as the check compares it. */
  private type Merged = (Int, Seq[Long], Double, Double, Double, Double, Double)

  def prepare(): Unit = input = ctx.tracer.span("tables.PagesGen.projectColumns")(window.df(ctx))

  def rep(): Unit = {
    val t = ctx.tracer
    val res = t.span("api.GraftPipeline.predict")(GraftPipeline.predict(ctx.spark, input, conf))
    outDir = ctx.work("predict")
    t.span("api.CrownResult.serialiseTable")(res.serialiseTable(outDir.toString))
    cover = t.span("api.CrownResult.canopyCover")(res.canopyCover.collect())
    t.span("tables.GeoTiffIO.writeTable")(
      GeoTiffIO.writeTable(res.mosaic, outDir.resolve("masks").toString))
  }

  /** Single-threaded nmsLocal then mergeLocal per class on the crowns of each
    * sampled region, with the benchmark's own median and bounding box. */
  def expect(): Unit = {
    want = sampled.map { r =>
      val crowns = CrownOps.synthesize(ctx.spark,
        GeoOps.assignTiles(window.region(r).df(ctx)), GeoOps.TileGrid.Default)
        .collect().toIndexedSeq
      r -> Seq(CrownOps.ClassCanopy, CrownOps.ClassTree).flatMap { c =>
        val kept = CrownOps.nmsLocal(crowns.filter(_.classIdx == c), conf.nmsIou)
        CrownOps.mergeLocal(kept, c, conf.confThr, conf.mergeIou).map { inst =>
          val xs = inst.parts.flatMap(p => p.indices.filter(_ % 2 == 0).map(p(_)))
          val ys = inst.parts.flatMap(p => p.indices.filter(_ % 2 == 1).map(p(_)))
          (c, inst.ids.sorted, Checks.median(inst.scores), xs.min, ys.min, xs.max, ys.max): Merged
        }
      }.toSet
    }.toMap
  }

  def check(): Seq[String] = {
    val inst = ctx.spark.read.parquet(outDir.resolve("instances.parquet").toString)
    val got = inst.filter(col("region").isin(sampled: _*))
      .select("region", "classIdx", "memberIds", "score", "minX", "minY", "maxX", "maxY")
      .as[(Long, Int, Seq[Long], Double, Double, Double, Double, Double)].collect()
      .groupBy(_._1).map { case (r, rows) =>
        r -> rows.map(m => (m._2, m._3, m._4, m._5, m._6, m._7, m._8): Merged).toSet
      }
    val ids = inst.select(explode(col("memberIds")).as("id"))
      .agg(count(lit(1)), countDistinct(col("id"))).as[(Long, Long)].head()
    val tifs = Seeds.treeBytes(outDir.resolve("masks"))._1
    sampled.flatMap { r =>
      val g = got.getOrElse(r, Set.empty); val w = want(r)
      if (g == w) Nil
      else Seq(s"region $r: ${g.diff(w).size} merged rows not in the reference, " +
        s"${w.diff(g).size} reference rows missing")
    } ++
      (if (ids._1 != ids._2) Seq(s"member ids not disjoint: ${ids._1} members, ${ids._2} distinct") else Nil) ++
      (if (cover.length != window.regions) Seq(s"canopyCover has ${cover.length} regions, want ${window.regions}") else Nil) ++
      (if (tifs == 0) Seq("no GeoTIFF tiles written") else Nil)
  }
}

/** CrownJob with IcebergLite commits on a fresh warehouse: a pass that stops
  * after k regions (a simulated crash), then a pass that resumes. A pass is
  * CrownJob.run's three stages, called one by one so each gets a span.
  * CrownJob always reads pages from index 0, so the seed picks k, not a
  * window. Not one of BENCHMARK.json's workloads (see perfbench/README.md);
  * every traced run profiles it on two regions. */
final class CrownJobRun(ctx: Ctx, val pages: Long = 18000L) extends Workload {
  val name = "crownjob"
  val path = Set(Layers.Store)
  val window: Window = Window(0, pages)
  val crashAfter: Int = 1 + Seeds.pick(ctx.seed, 3, window.regions - 1).toInt
  def describe = s"pages [0, $pages), crash after $crashAfter of ${window.regions} regions"
  val stages = Seq(CrownJob.StageCrowns, CrownJob.StageMerged, CrownJob.StageStats)
  var warehouse: Path = _
  private var crashSnapshot = 0L
  private var want: (Long, Long, Long) = _
  var resumeS: Double = 0.0

  private def pass(failAfter: Int): Unit = {
    val c = CrownJob.Conf(pages, warehouse.toString, failAfterRegions = failAfter)
    val t = ctx.tracer
    t.span("jobs.CrownJob.runSynth")(CrownJob.runSynth(ctx.spark, c))
    t.span("jobs.CrownJob.runMerge")(CrownJob.runMerge(ctx.spark, c))
    t.span("jobs.CrownJob.runStats")(CrownJob.runStats(ctx.spark, c))
  }

  def prepare(): Unit = warehouse = ctx.work("warehouse")

  def rep(): Unit = {
    warehouse = ctx.work("warehouse")
    pass(crashAfter)
    crashSnapshot = IcebergLite.snapshots(warehouse.toString).map(_.id).max
    resumeS = Checks.seconds(pass(-1))
  }

  /** Hash of the fused nmsMerge (emitGeom on) over the same pages. */
  def expect(): Unit = {
    val c = CrownJob.Conf(pages, "")
    val crowns = CrownOps.synthesize(ctx.spark,
      GeoOps.assignTiles(PagesGen.pages(ctx.spark, pages)), GeoOps.TileGrid.Default)
    want = Checks.tableHash(CrownOps.nmsMerge(ctx.spark, crowns, c.nmsIou, c.confThr,
      c.mergeIou, emitGeom = true).toDF())
  }

  /** (region, snapshot) pairs of a stage's lineage. */
  private def commits(stage: String): Array[(Long, Long)] =
    IcebergLite.lineage(ctx.spark, warehouse.toString, stage)
      .map(_.select("unitKey", "snapshotId").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1)))).getOrElse(Array.empty)

  /** Per stage: regions the resume pass committed / regions still pending
    * after the crash (1.0: no region redone). */
  def redoRatios(): Map[String, Double] = stages.map { s =>
    val (before, after) = commits(s).partition(_._2 <= crashSnapshot)
    s -> after.map(_._1).distinct.length.toDouble / (window.regions - before.map(_._1).distinct.length)
  }.toMap

  def check(): Seq[String] = {
    val perStage = stages.flatMap { s =>
      val once = commits(s).groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
      Workloads.diff(s"stage $s region", once, (0L until window.regions).map(_ -> 1L).toMap)
    }
    val got = IcebergLite.read(ctx.spark, warehouse.toString, CrownJob.StageMerged)
      .map(Checks.tableHash)
    perStage ++ (if (got.contains(want)) Nil else Seq(s"merged table hash $got, want $want"))
  }
}

/** Spatial joins: the cell-replicated bbox self-join (GeoOps.overlappingPairs)
  * on per-page boxes, and the exact union aggregate (st_union_agg) of the
  * same integer boxes grouped by region and 256-px cell. */
final class SpatialJoin(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  val name = "spatial_join"
  val pages = 30000L
  val path = Set(Layers.Joins)
  val window: Window = Seeds.window(ctx.seed, pages)
  private val sampled = window.firstRegion + Seeds.pick(ctx.seed, 4, window.regions)
  def describe = s"pages [${window.start}, ${window.start + pages}), brute-force region $sampled"
  private var boxes: DataFrame = _
  private var pairs: Map[Long, Checks.PairPrint] = Map.empty
  private var areas: Map[(Long, Long, Long), Double] = Map.empty
  private var wantPairs: Checks.PairPrint = _
  private var wantAreas: Map[(Long, Long, Long), Long] = Map.empty

  def prepare(): Unit = boxes = BoxJoins.boxes(ctx.tracer.span("tables.PagesGen.projectColumns")(window.df(ctx)))

  def rep(): Unit = {
    val t = ctx.tracer
    pairs = t.span("operators.GeoOps.overlappingPairs")(BoxJoins.pairPrints(GeoOps.overlappingPairs(boxes)))
    areas = t.span("functions.UnionAggApi.st_union_agg")(BoxJoins.unionAreas(boxes))
  }

  def expect(): Unit = {
    val all = boxes.select("region", "id", "min_x", "min_y", "max_x", "max_y")
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    wantPairs = Checks.bruteForcePairs(all.filter(_._1 == sampled))
    wantAreas = Checks.unitCellAreas(all)
  }

  def check(): Seq[String] = {
    val p = pairs.get(sampled) match {
      case Some(got) if got == wantPairs => Nil
      case got => Seq(s"region $sampled pairs $got, brute force $wantPairs")
    }
    val a = Workloads.diff("union group", areas.map { case (k, v) => k -> math.round(v) }, wantAreas) ++
      areas.collect { case (k, v) if math.abs(v - math.round(v)) > 1e-6 => s"union group $k area $v not whole" }.take(3)
    p ++ a
  }
}

/** The joins workload's input and materializations, shared with the traced
  * layer profile. */
object BoxJoins {
  /** Integer boxes around each page, 6..37 px wide, 6..33 px high. */
  def boxes(pages: DataFrame): DataFrame =
    pages.select(Workloads.regionOf.as("region"), col("i").as("id"),
      (col("x") - (lit(3) + col("i") % 17)).as("min_x"),
      (col("y") - (lit(3) + (col("i") * 5) % 13)).as("min_y"),
      (col("x") + (lit(3) + (col("i") * 7) % 17)).as("max_x"),
      (col("y") + (lit(3) + (col("i") * 3) % 17)).as("max_y"))

  /** Union input: one ring per box, grouped by region and 256-px cell. */
  def unionInput(boxes: DataFrame): DataFrame =
    boxes.select(col("region"),
      floor(col("min_x") / 256).cast("long").as("gx"),
      floor(col("min_y") / 256).cast("long").as("gy"),
      array(col("min_x"), col("min_y"), col("max_x"), col("min_y"),
        col("max_x"), col("max_y"), col("min_x"), col("max_y")).as("ring"))

  def unionAgg(boxes: DataFrame): DataFrame =
    unionInput(boxes).groupBy(col("region"), col("gx"), col("gy"))
      .agg(UnionAggApi.st_union_agg(col("ring")).as("u"))

  def unionAreas(boxes: DataFrame): Map[(Long, Long, Long), Double] =
    unionAgg(boxes).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getSeq[scala.collection.Seq[Double]](3).map(ring => Checks.shoelace(ring)).sum
    }.toMap

  def pairPrints(pairs: DataFrame): Map[Long, Checks.PairPrint] =
    pairs.groupBy(col("region"))
      .agg(count(lit(1)), sum(col("a")), sum(col("b")),
        sum((col("a") % 65521) * (col("b") % 65519)))
      .collect().map(r => r.getLong(0) ->
        Checks.PairPrint(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
}

/** Reference computations of the checks: none of them goes through the
  * engine code path the check is about. */
object Checks {
  /** Order-independent fingerprint of a pair set (a < b). */
  final case class PairPrint(n: Long, sumA: Long, sumB: Long, sumAB: Long)

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def shoelace(ring: scala.collection.Seq[Double]): Double = {
    val n = ring.length / 2
    var a = 0.0
    var k = 0
    while (k < n) {
      val j = (k + 1) % n
      a += ring(2 * k) * ring(2 * j + 1) - ring(2 * j) * ring(2 * k + 1)
      k += 1
    }
    a / 2
  }

  /** Row count and sum/xor of a per-row hash over every column, columns in
    * name order. */
  def tableHash(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("sum(h % 1000000007)"), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** All pairs a < b of one region whose closed boxes intersect, by
    * checking every pair. */
  def bruteForcePairs(bs: Array[(Long, Long, Double, Double, Double, Double)]): PairPrint = {
    var n, sa, sb, sab = 0L
    var i = 0
    while (i < bs.length) {
      var j = 0
      while (j < bs.length) {
        val (_, ia, ax0, ay0, ax1, ay1) = bs(i)
        val (_, ib, bx0, by0, bx1, by1) = bs(j)
        if (ia < ib && ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1) {
          n += 1; sa += ia; sb += ib; sab += (ia % 65521) * (ib % 65519)
        }
        j += 1
      }
      i += 1
    }
    PairPrint(n, sa, sb, sab)
  }

  /** Union area per (region, 256-px cell of the box minimum) as the number
    * of unit cells some box of the group covers. */
  def unitCellAreas(bs: Array[(Long, Long, Double, Double, Double, Double)]): Map[(Long, Long, Long), Long] =
    bs.groupBy(b => (b._1, math.floor(b._3 / 256).toLong, math.floor(b._4 / 256).toLong))
      .map { case (k, g) =>
        val x0 = g.map(_._3).min.toInt; val y0 = g.map(_._4).min.toInt
        val w = g.map(_._5).max.toInt - x0; val h = g.map(_._6).max.toInt - y0
        val cells = new java.util.BitSet(w * h)
        g.foreach { case (_, _, bx0, by0, bx1, by1) =>
          var y = by0.toInt
          while (y < by1.toInt) {
            cells.set((y - y0) * w + bx0.toInt - x0, (y - y0) * w + bx1.toInt - x0)
            y += 1
          }
        }
        k -> cells.cardinality().toLong
      }
}
