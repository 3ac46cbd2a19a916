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
  * Resume granularity = region (one reference image). `run` anti-joins
  * pending regions against committed lineage keys, so a re-run after a
  * crash processes exactly the missing regions and appends one more
  * snapshot — the warm-start semantics of model.py:180-185, with
  * exactly-once per region guaranteed by the atomic manifest swap.
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

  /** Rows of `df` whose region has no committed lineage in `stage` yet:
    * the resume anti-join every stage runs before it commits. */
  private def pending(spark: SparkSession, conf: Conf, stage: String,
                      df: DataFrame): DataFrame =
    IcebergLite.committedKeys(spark, conf.warehouse, stage) match {
      case Some(done) => df.join(done.withColumnRenamed("unitKey", "region"),
        Seq("region"), "left_anti")
      case None => df
    }

  /** Synthesis stage: pending regions only. `failAfterRegions` (tests)
    * truncates the processed set to simulate a crash after k regions. */
  def runSynth(spark: SparkSession, conf: Conf): Long = {
    val pages = GeoOps.withRegion(PagesGen.pages(spark, conf.nPages))
    val todo = pending(spark, conf, StageCrowns, pages)
    val limited =
      if (conf.failAfterRegions >= 0) {
        val keep = todo.select("region").distinct()
          .orderBy("region").limit(conf.failAfterRegions)
        todo.join(broadcast(keep), Seq("region"))
      } else todo
    if (limited.isEmpty) return -1L
    val assigned = GeoOps.assignTiles(limited)
    val crowns = CrownOps.synthesize(spark, assigned, GeoOps.TileGrid.Default).toDF()
    IcebergLite.commit(spark, conf.warehouse, StageCrowns, crowns, "region")
  }

  /** Merge stage over all committed crowns (regions not yet merged):
    * the same fused NMS + merge as `predict`, one shuffle. */
  def runMerge(spark: SparkSession, conf: Conf): Long = {
    import spark.implicits._
    val crowns = IcebergLite.read(spark, conf.warehouse, StageCrowns)
      .getOrElse(return -1L)
    val todo = pending(spark, conf, StageMerged, crowns)
    if (todo.isEmpty) return -1L
    val merged = CrownOps.nmsMerge(spark, todo.as[CrownOps.Crown], conf.nmsIou,
      conf.confThr, conf.mergeIou, emitGeom = conf.emitGeom).toDF()
    IcebergLite.commit(spark, conf.warehouse, StageMerged, merged, "region")
  }

  /** Stats stage (A5 analytics surface over the merged output): per
    * (region, class) crown counts, score stats, and area totals —
    * committed with lineage like every other stage. */
  def runStats(spark: SparkSession, conf: Conf): Long = {
    val merged = IcebergLite.read(spark, conf.warehouse, StageMerged)
      .getOrElse(return -1L)
    val todo = pending(spark, conf, StageStats, merged)
    if (todo.isEmpty) return -1L
    val stats = todo.groupBy(col("region"), col("classIdx"))
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
    * <jar> [nPages] [warehouse]`. The master and parallelism knobs are
    * taken from the SUBMIT environment when present (spark-submit sets
    * `spark.master` as a system property) — the local[] fallback is
    * only for bare `java`/sbt runs, so the same main drives a real
    * multi-executor cluster unchanged. */
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toLong).getOrElse(6000L)
    val warehouse = if (args.length > 1) args(1) else "/tmp/graft_warehouse"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val builder = SparkSession.builder()
    // never override the submit environment: builder options beat
    // sys-prop-loaded conf, so EVERY default here is guarded
    if (!sys.props.contains("spark.sql.session.timeZone"))
      builder.config("spark.sql.session.timeZone", "UTC")
    if (!sys.props.contains("spark.master")) {
      // bare-java fallback only; under spark-submit the shuffle width
      // comes from the submit conf or Spark's default + AQE coalescing
      // (pinning it to a driver-local env var would under-decompose a
      // big cluster)
      builder.master(s"local[$cpus]").config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, confFrom(spark, nPages, warehouse))
    println(s"merged rows: ${mergedResult(spark, warehouse).map(_.count()).getOrElse(0L)}")
    spark.stop()
  }
}
