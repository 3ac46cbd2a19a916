package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CrownOps, GeoOps}
import graft.tables.{IcebergLite, PagesGen}

/** The spark-submit pipeline driver: pages → geocode/tile-assign →
  * crown synthesis → NMS → dissolve/merge, with every stage committed
  * as an IcebergLite snapshot (per-region lineage + metrics) and
  * resumable from the last good snapshot — the Spark rebuild of the
  * reference lifecycle (/root/reference docs/cache.md:3-23,
  * src/tcd_pipeline/models/model.py:110-216).
  *
  * Resume granularity = region (one reference image). Each stage
  * subtracts, on the driver, the regions its lineage already holds from
  * the regions it could do, so a re-run after a crash processes exactly
  * the missing regions and appends one more snapshot — the warm-start
  * semantics of model.py:180-185, with exactly-once per region
  * guaranteed by the atomic manifest swap. A stage with nothing to do
  * reads only lineage files and runs no Spark job.
  */
object CrownJob {

  /** @param emitGeom whether the merge stage traces + commits dissolved
    *                  ring geometry (keep true when the merged table
    *                  feeds fixture serialization; stats/count-only
    *                  workflows can skip the trace cost) */
  final case class Conf(nPages: Long, warehouse: String,
                        nmsIou: Double = 0.7, confThr: Double = 0.3,
                        mergeIou: Double = 0.5,
                        failAfterRegions: Int = -1,
                        emitGeom: Boolean = true)

  val StageCrowns = "crowns"
  val StageMerged = "merged"
  val StageStats = "stats"

  /** Regions whose rows `stage` has committed, from its lineage: every
    * stage subtracts its own from the regions it could do before it
    * reads its input. */
  private def committed(spark: SparkSession, conf: Conf, stage: String): Seq[Long] =
    IcebergLite.committedKeys(spark, conf.warehouse, stage)
      .fold(Seq.empty[Long])(_.collect().map(_.getLong(0)).toSeq)

  /** Synthesis stage: pending regions only. `failAfterRegions` (tests)
    * truncates the processed set to simulate a crash after k regions. */
  def runSynth(spark: SparkSession, conf: Conf): Long = {
    val all = 0L until (conf.nPages + GeoOps.PagesPerRegion - 1) / GeoOps.PagesPerRegion
    val todo = all.diff(committed(spark, conf, StageCrowns))
    val limited = if (conf.failAfterRegions >= 0) todo.sorted.take(conf.failAfterRegions) else todo
    if (limited.isEmpty) return -1L
    val pages = GeoOps.withRegion(PagesGen.pages(spark, conf.nPages))
      .filter(col("region").isin(limited: _*))
    val crowns = CrownOps.synthesize(spark, GeoOps.assignTiles(pages), GeoOps.TileGrid.Default).toDF()
    IcebergLite.commit(spark, conf.warehouse, StageCrowns, crowns, "region")
  }

  /** Merge stage over the crowns of regions not yet merged: the same
    * fused NMS + merge as `predict`, over the same one (region, class)
    * exchange (CrownOps.byRegionClass). */
  def runMerge(spark: SparkSession, conf: Conf): Long = {
    import spark.implicits._
    val todo = committed(spark, conf, StageCrowns).diff(committed(spark, conf, StageMerged))
    if (todo.isEmpty) return -1L
    val crowns = IcebergLite.read(spark, conf.warehouse, StageCrowns).get
      .filter(col("region").isin(todo: _*))
    val merged = CrownOps.nmsMerge(spark, CrownOps.byRegionClass(crowns.as[CrownOps.Crown]), conf.nmsIou,
      conf.confThr, conf.mergeIou, emitGeom = conf.emitGeom).toDF()
    IcebergLite.commit(spark, conf.warehouse, StageMerged, merged, "region")
  }

  /** Stats stage (A5 analytics surface over the merged output): per
    * (region, class) crown counts, score stats, and area totals —
    * committed with lineage like every other stage. */
  def runStats(spark: SparkSession, conf: Conf): Long = {
    val todo = committed(spark, conf, StageMerged).diff(committed(spark, conf, StageStats))
    if (todo.isEmpty) return -1L
    val stats = IcebergLite.read(spark, conf.warehouse, StageMerged).get
      .filter(col("region").isin(todo: _*))
      .groupBy(col("region"), col("classIdx"))
      .agg(count(lit(1)).as("n_crowns"),
        sum(col("area")).as("total_area"),
        avg(col("score")).as("mean_score"),
        max(col("score")).as("max_score"),
        sum(size(col("memberIds"))).as("n_members"))
    IcebergLite.commit(spark, conf.warehouse, StageStats, stats, "region")
  }

  def run(spark: SparkSession, conf: Conf): Unit = {
    runSynth(spark, conf)
    runMerge(spark, conf)
    runStats(spark, conf)
  }

  def mergedResult(spark: SparkSession, warehouse: String): Option[DataFrame] =
    IcebergLite.read(spark, warehouse, StageMerged)

  /** Operator thresholds from the submit surface — the Spark analogue
    * of the reference's Hydra config tree (docs/configuration.md):
    * `--conf spark.graft.crown.nmsIou=0.6` etc. override the Conf
    * defaults without a rebuild (spark-submit only forwards `spark.`-
    * prefixed keys to the session conf, hence the prefix). Unset keys
    * keep the defaults; a malformed value fails loudly at startup
    * rather than silently running with a default threshold. */
  def confFrom(spark: SparkSession, nPages: Long, warehouse: String): Conf = {
    val base = Conf(nPages, warehouse) // single source of defaults
    def knob(k: String) = spark.conf.getOption(s"spark.graft.crown.$k")
    def d(k: String, dflt: Double) = knob(k).map { v =>
      // finite-only: "NaN"/"Infinity" parse as doubles but poison every
      // downstream threshold comparison into silently-empty output
      require(v.toDoubleOption.exists(_.isFinite),
        s"spark.graft.crown.$k must be a finite double, got '$v'")
      v.toDouble
    }.getOrElse(dflt)
    base.copy(
      nmsIou = d("nmsIou", base.nmsIou),
      confThr = d("confThr", base.confThr),
      mergeIou = d("mergeIou", base.mergeIou),
      emitGeom = knob("emitGeom").map { v =>
        require(v == "true" || v == "false",
          s"spark.graft.crown.emitGeom must be true|false, got '$v'")
        v.toBoolean
      }.getOrElse(base.emitGeom))
  }

  /** spark-submit entry: `spark-submit --class graft.jobs.CrownJob
    * <jar> [nPages] [warehouse]`, on the session [[graft.Measure.session]]
    * builds. */
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toLong).getOrElse(6000L)
    val warehouse = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val spark = graft.Measure.session()
    run(spark, confFrom(spark, nPages, warehouse))
    println(s"merged rows: ${mergedResult(spark, warehouse).map(_.count()).getOrElse(0L)}")
    spark.stop()
  }
}
