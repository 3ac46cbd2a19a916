package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftPipeline
import graft.geom.{Geom, Overlay, Raster}
import graft.jobs.CrownJob
import graft.operators.{CrownOps, GeoOps, RasterOps}
import graft.tables.{FixtureIO, GeoTiffIO, IcebergLite}

/** Metric name -> (value, unit), in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
}

/** The traced run's per-layer profile. Layers are measured in groups; each
  * group runs on the workload's own page window when the workload's calls
  * go through it, and otherwise on a two-region probe window at the start of
  * the workload's window, so every per-layer metric is measured in every
  * traced run. Lazy Dataset layers are timed with cumulative noop-sink cuts:
  * a layer's self time is its prefix's time minus the previous prefix's. */
object Layers {
  val Head = "head"       // PagesGen, assignTiles
  val Crowns = "crowns"   // synthesize, nmsMerge, RasterOps, GeoTiffIO
  val Store = "store"     // CrownJob stages, IcebergLite
  val Joins = "joins"     // overlappingPairs, st_union_agg
  val CutReps = 3
  val ProbeRegions = 2L

  /** Medians over CutReps runs of one prefix. */
  final case class Cut(s: Double, cpu: Double, shuffle: Double, spill: Double, peak: Double) {
    def minus(o: Cut): Cut = Cut(s - o.s, cpu - o.cpu, shuffle - o.shuffle, spill - o.spill, peak)
  }

  /** The per-layer metrics, and what the CrownJob output checks found wrong. */
  def profile(ctx: Ctx, w: Workload): (Metrics, Seq[String]) = {
    val probe = Window(w.window.start, ProbeRegions * GeoOps.PagesPerRegion)
    def on(g: String): Window = if (w.path(g)) w.window else probe
    val p = new Profile(ctx)
    p.headGroup(on(Head))
    p.crownsGroup(on(Crowns))
    p.storeGroup(w match {
      case c: CrownJobRun => c
      case _ => new CrownJobRun(ctx, probe.pages)
    })
    p.joinsGroup(on(Joins))
    p.kernelGroup(probe)
    (p.m, p.problems.toSeq)
  }

  private final class Profile(ctx: Ctx) {
    val m = new Metrics
    val problems = mutable.ArrayBuffer.empty[String]
    private val t = ctx.tracer
    private val spark = ctx.spark
    private val conf = GraftPipeline.Conf()
    private val spec = GeoOps.TileGrid.Default
    private val cuts = mutable.Map.empty[(String, Window), Cut]

    private def timed(name: String)(f: => Unit): Cut = {
      val runs = (1 to CutReps).map { _ =>
        System.gc()
        t.span(name)(f)
        val s = t.spans.last
        (s.seconds, s.tasks)
      }
      def med(f: Totals => Double) = Checks.median(runs.map(r => f(r._2)))
      Cut(Checks.median(runs.map(_._1)), med(_.cpuS), med(_.shuffleWriteBytes.toDouble),
        med(_.spillBytes.toDouble), runs.map(_._2.peakExecMemBytes.toDouble).max)
    }

    /** Cumulative cut: the prefix `df` into the noop sink. */
    private def cut(name: String, win: Window)(df: => DataFrame): Cut =
      cuts.getOrElseUpdate((name, win),
        timed(name)(df.write.format("noop").mode("overwrite").save()))

    private def count(df: DataFrame): Long = t.span("count")(df.count())

    private def put(layer: String, c: Cut, measures: String*): Unit = measures.foreach {
      case "self_s" => m.put(s"$layer.self_s", c.s, "s")
      case "cpu_s" => m.put(s"$layer.cpu_s", c.cpu, "s")
      case "shuffle_write_bytes" => m.put(s"$layer.shuffle_write_bytes", c.shuffle, "bytes")
      case "spill_bytes" => m.put(s"$layer.spill_bytes", c.spill, "bytes")
      case "peak_exec_mem_bytes" => m.put(s"$layer.peak_exec_mem_bytes", c.peak, "bytes")
    }

    private def pagesCut(win: Window) = cut("tables.PagesGen.projectColumns", win)(win.df(ctx))
    private def assigned(win: Window) = GeoOps.assignTiles(win.df(ctx), spec)
    private def assignCut(win: Window) = cut("operators.GeoOps.assignTiles", win)(assigned(win))
    private def crownsDs(win: Window) = CrownOps.synthesize(spark, assigned(win), spec)
    private def confTiles(win: Window) =
      RasterOps.confidenceTiles(spark, crownsDs(win), spec, RasterOps.alignedGsd(spec, conf.gsd))
    private def mosaicDs(win: Window) = RasterOps.mosaic(spark, confTiles(win), spec)

    def headGroup(win: Window): Unit = {
      val c1 = pagesCut(win)
      val c2 = assignCut(win)
      val rows = count(assigned(win))
      put("tables.PagesGen.projectColumns", c1, "self_s", "cpu_s")
      put("operators.GeoOps.assignTiles", c2.minus(c1), "self_s", "cpu_s")
      m.put("operators.GeoOps.assignTiles.rows_out", rows, "rows")
      m.put("operators.GeoOps.assignTiles.fanout", rows.toDouble / win.pages, "ratio")
    }

    def crownsGroup(win: Window): Unit = {
      val c2 = { pagesCut(win); assignCut(win) }
      val c3 = cut("operators.CrownOps.synthesize", win)(crownsDs(win).toDF())
      val c4 = cut("operators.CrownOps.nmsMerge", win)(CrownOps.nmsMerge(spark, crownsDs(win),
        conf.nmsIou, conf.confThr, conf.mergeIou).toDF())
      val c5 = cut("operators.RasterOps.confidenceTiles", win)(confTiles(win).toDF())
      val c6 = cut("operators.RasterOps.mosaic", win)(mosaicDs(win).toDF())
      val thr255 = math.round(conf.confThr * 255).toInt
      val cov = timed("operators.RasterOps.coverage")(
        RasterOps.coverage(spark, mosaicDs(win), thr255).collect())
      var written = (0L, 0L)
      val tif = timed("tables.GeoTiffIO.writeTable") {
        val dir = ctx.work("layer-tiles")
        GeoTiffIO.writeTable(mosaicDs(win), dir.toString)
        written = Seeds.treeBytes(dir)
      }
      val (files, bytes) = written

      val assignedRows = count(assigned(win))
      val crownRows = count(crownsDs(win).toDF())
      val mergedRows = count(CrownOps.nmsMerge(spark, crownsDs(win), conf.nmsIou,
        conf.confThr, conf.mergeIou).toDF())
      val all = Seq("self_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes")
      val synth = "operators.CrownOps.synthesize"
      put(synth, c3.minus(c2), all: _*)
      m.put(s"$synth.rows_in", assignedRows, "rows")
      m.put(s"$synth.rows_out", crownRows, "rows")
      m.put(s"$synth.kept_ratio", crownRows.toDouble / assignedRows, "ratio")
      val nms = "operators.CrownOps.nmsMerge"
      put(nms, c4.minus(c3), all: _*)
      m.put(s"$nms.rows_in", crownRows, "rows")
      m.put(s"$nms.rows_out", mergedRows, "rows")
      m.put(s"$nms.out_ratio", mergedRows.toDouble / crownRows, "ratio")
      m.put(s"$nms.prefix_s", c4.s, "s")

      put("operators.RasterOps.confidenceTiles", c5.minus(c3), "self_s", "cpu_s")
      m.put("operators.RasterOps.confidenceTiles.rows_out", count(confTiles(win).toDF()), "rows")
      put("operators.RasterOps.mosaic", c6.minus(c5), "self_s", "cpu_s")
      m.put("operators.RasterOps.mosaic.rows_out", count(mosaicDs(win).toDF()), "rows")
      put("operators.RasterOps.coverage", cov.minus(c6), "self_s", "cpu_s")
      m.put("operators.RasterOps.coverage.rows_out",
        count(RasterOps.coverage(spark, mosaicDs(win), thr255)), "rows")
      put("tables.GeoTiffIO.writeTable", tif.minus(c6), "self_s", "cpu_s")
      m.put("tables.GeoTiffIO.writeTable.rows_out", files, "files")
      m.put("tables.GeoTiffIO.writeTable.bytes_written", bytes, "bytes")
    }

    /** CrownJob crash and resume on a fresh warehouse, with the workload's
      * output checks, then direct IcebergLite calls on its tables. */
    def storeGroup(job: CrownJobRun): Unit = {
      job.prepare()
      val from = t.spans.size
      job.rep()
      val passes = t.spans.drop(from).grouped(3).toSeq
      job.expect()
      problems ++= job.check().map(p => s"crownjob: $p")
      val redo = job.redoRatios()
      passes.transpose.zip(job.stages).foreach { case (spans, stage) =>
        val l = spans.head.name
        val tasks = spans.map(_.tasks).reduce(_ + _)
        m.put(s"$l.self_s", spans.map(_.seconds).sum, "s")
        m.put(s"$l.cpu_s", tasks.cpuS, "s")
        m.put(s"$l.shuffle_write_bytes", tasks.shuffleWriteBytes.toDouble, "bytes")
        m.put(s"$l.redo_ratio", redo(stage), "ratio")
      }
      m.put("jobs.CrownJob.run.resume_s", job.resumeS, "s")
      val wh = job.warehouse.toString
      val (files, bytes) = Seeds.treeBytes(job.warehouse)
      m.put("tables.IcebergLite.warehouse.stored_bytes_per_page", bytes.toDouble / job.pages, "bytes/page")
      m.put("tables.IcebergLite.warehouse.files", files, "files")
      m.put("tables.IcebergLite.warehouse.snapshots", IcebergLite.snapshots(wh).size, "count")

      val crowns = IcebergLite.read(spark, wh, CrownJob.StageCrowns).get.localCheckpoint()
      var written = (0L, 0L)
      val commit = timed("tables.IcebergLite.commit") {
        val root = ctx.work("layer-commit")
        IcebergLite.commit(spark, root.toString, CrownJob.StageCrowns, crowns, "region")
        written = Seeds.treeBytes(root)
      }
      m.put("tables.IcebergLite.commit.self_s", commit.s, "s")
      m.put("tables.IcebergLite.commit.files_written", written._1, "files")
      m.put("tables.IcebergLite.commit.bytes_written", written._2, "bytes")
      val read = cut("tables.IcebergLite.read", job.window)(
        IcebergLite.read(spark, wh, CrownJob.StageCrowns).get)
      m.put("tables.IcebergLite.read.self_s", read.s, "s")
      val keys = timed("tables.IcebergLite.committedKeys")(
        IcebergLite.committedKeys(spark, wh, CrownJob.StageCrowns).get.collect())
      m.put("tables.IcebergLite.committedKeys.self_s", keys.s, "s")
    }

    def joinsGroup(win: Window): Unit = {
      def boxes = BoxJoins.boxes(win.df(ctx))
      val cb = cut("joins.boxes", win)(boxes)
      val cp = cut("operators.GeoOps.overlappingPairs", win)(GeoOps.overlappingPairs(boxes))
      val cu0 = cut("joins.unionInput", win)(BoxJoins.unionInput(boxes))
      val cu = cut("functions.UnionAggApi.st_union_agg", win)(BoxJoins.unionAgg(boxes))
      Seq(("operators.GeoOps.overlappingPairs", cp.minus(cb), GeoOps.overlappingPairs(boxes)),
          ("functions.UnionAggApi.st_union_agg", cu.minus(cu0), BoxJoins.unionAgg(boxes)))
        .foreach { case (l, c, out) =>
          put(l, c, "self_s", "cpu_s")
          m.put(s"$l.rows_out", count(out), "rows")
          m.put(s"$l.shuffle_write_bytes_per_box", c.shuffle / win.pages, "bytes/box")
        }
    }

    /** Pure-Scala kernels on fixed inputs: the 387-instance reference
      * fixture, the crowns of the window's first region, and a fixed box set. */
    def kernelGroup(win: Window): Unit = {
      val fixture = Kernels.fixture()
      val region = CrownOps.synthesize(spark,
        GeoOps.assignTiles(win.region(win.firstRegion).df(ctx), spec), spec).collect().toIndexedSeq
      val inputs = Seq(fixture.crowns, region)
      val byClass = for (cs <- inputs; c <- Seq(CrownOps.ClassCanopy, CrownOps.ClassTree))
        yield (c, cs.filter(_.classIdx == c))
      val kept = byClass.map { case (c, cs) => (c, CrownOps.nmsLocal(cs, conf.nmsIou)) }
      val polys = inputs.flatten.map(_.poly)
      val boxes = Kernels.boxSet
      def kernel(name: String, iters: Int)(warm: => Unit)(once: => Int): Unit = {
        warm
        var calls = 0L
        t.span(name)((1 to iters).foreach(_ => calls += once))
        m.put(s"$name.calls", calls, "count")
        m.put(s"$name.self_s", t.spans.last.seconds, "s")
      }
      def nms() = { byClass.foreach { case (_, cs) => CrownOps.nmsLocal(cs, conf.nmsIou) }; byClass.size }
      kernel("operators.CrownOps.nmsLocal", 20)(nms())(nms())
      // one merge of the region's hot-cluster component takes seconds, so
      // the warm-up merges only the fixture's crowns and one pass is timed
      def merge(ks: Seq[(Int, IndexedSeq[CrownOps.Crown])]) = {
        ks.foreach { case (c, cs) => CrownOps.mergeLocal(cs, c, conf.confThr, conf.mergeIou) }
        ks.size
      }
      kernel("operators.CrownOps.mergeLocal", 1)(merge(kept.take(2)))(merge(kept))
      def rasterize() = { polys.foreach(Kernels.rasterize); polys.size }
      kernel("geom.Raster.rasterizeMaxInto", 10)(rasterize())(rasterize())
      def vectorize() = {
        fixture.masks.foreach { case (mask, rows, cols) => Raster.vectorizeWithHoles(mask, rows, cols) }
        fixture.masks.size
      }
      kernel("geom.Raster.vectorizeWithHoles", 5)(vectorize())(vectorize())
      kernel("geom.Overlay.union", 50)(Overlay.union(boxes))({ Overlay.union(boxes); 1 })
    }
  }
}

/** Fixed kernel inputs. */
object Kernels {
  final case class Fixture(crowns: IndexedSeq[CrownOps.Crown], masks: Seq[(Array[Byte], Int, Int)])

  /** The reference's 387-instance COCO fixture, one record per annotation
    * through FixtureIO.cocoFromJson; a crown's polygon is the largest traced
    * ring of its mask, placed at the annotation's bbox. */
  def fixture(): Fixture = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/reference_golden_coco.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val body = raw.substring(raw.indexOf("\"annotations\""))
    val records = objects(body.substring(body.indexOf('[') + 1))
      .map(o => FixtureIO.cocoFromJson(o.replaceAll("\\s+", "")))
    require(records.size == 387, s"fixture has ${records.size} annotations, want 387")
    val crowns = records.flatMap { r =>
      Raster.vectorize(r.mask, r.maskRows, r.maskCols).sortBy(-Geom.area(_)).headOption.map { local =>
        val poly = Geom.translate(local, r.bbox(0), r.bbox(1))
        val bb = Geom.BBox.ofPolygon(poly)
        CrownOps.Crown(0L, r.id, r.id, 0L, r.categoryId, r.score,
          bb.minX, bb.minY, bb.maxX, bb.maxY, poly)
      }
    }.toIndexedSeq
    Fixture(crowns, records.map(r => (r.mask, r.maskRows, r.maskCols)))
  }

  /** The top-level `{...}` objects of a JSON array body. */
  private def objects(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = -1; var inStr = false
    var i = 0
    while (i < s.length && depth >= 0) {
      val ch = s.charAt(i)
      if (inStr) { if (ch == '\\') i += 1 else if (ch == '"') inStr = false }
      else ch match {
        case '"' => inStr = true
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' => depth -= 1; if (depth == 0) out += s.substring(start, i + 1)
        case ']' if depth == 0 => depth = -1
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** One polygon into a mask over its own bounding box. */
  def rasterize(poly: Array[Double]): Unit = {
    val bb = Geom.BBox.ofPolygon(poly)
    val ox = math.floor(bb.minX); val oy = math.floor(bb.minY)
    val cols = math.max(1, math.ceil(bb.maxX - ox).toInt)
    val rows = math.max(1, math.ceil(bb.maxY - oy).toInt)
    Raster.rasterizeMaxInto(Geom.translate(poly, -ox, -oy), rows, cols, new Array[Byte](rows * cols), 1)
  }

  /** 200 overlapping integer boxes in a 160 x 160 square. */
  val boxSet: Seq[Array[Double]] = (0 until 200).map { k =>
    val x = (k * 37) % 150; val y = (k * 91) % 150
    val w = 3 + k % 11; val h = 3 + (k * 7) % 13
    Array[Double](x, y, x + w, y, x + w, y + h, x, y + h)
  }
}
