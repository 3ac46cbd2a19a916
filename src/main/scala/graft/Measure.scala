package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The measurement main beside the frozen [[Bench]]. The first argument
  * picks the mode; each mode prints one JSON line per measurement.
  *
  *  - `queries [query ...]`: times [[SparkEntry.queries]] (all of them
  *    when none is named) under Bench's per-query action,
  *    [[Bench.outputHash]], and reports each query's samples, minimum
  *    and output hash, so result drift shows while optimizing. Env
  *    `SPARK_GRAFT_SF_DIR` (default: Bench's sf0.1 tables),
  *    `GRAFT_REPEATS` (timed samples, default 3), `GRAFT_PLANS_DIR` (if
  *    set, writes `<dir>/<query>.txt` with the formatted plan).
  *  - `stress [nAssign] [nPipeline] [factor] [runs]`: the two headline
  *    jobs at the reference size and at `factor`× it. It reports
  *    rows/sec at both sizes, their ratio (fixed costs amortize, so a
  *    healthy plan holds ≳1; a knee means some stage stopped streaming)
  *    and the peak heap across the big runs (a plan that buffers in
  *    proportion to its input shows here long before a cluster OOMs).
  *  - `scaling [nAssign] [nPipeline]`: one side of the N vs 4N scaling
  *    evidence. `tools/scaling_submit.sh` submits it at
  *    `local-cluster[1,C]` and `[4,C]` and prints the efficiency.
  *
  * The session comes from [[session]]. Each JSON line ends with
  * `cores`, `loadavg_start`, `loadavg_end` and `steal_pct`.
  */
object Measure {

  val usage: String =
    """usage: graft.Measure queries [query ...]
      |       graft.Measure stress [nAssign] [nPipeline] [factor] [runs]
      |       graft.Measure scaling [nAssign] [nPipeline]""".stripMargin

  def main(args: Array[String]): Unit = {
    val mode = parse(args.toSeq)
    val spark = session()
    try mode(spark, println) finally spark.stop()
  }

  /** The session of every main but the frozen [[Bench]]: the submit
    * environment when `spark.master` is set, else [[Bench.localSession]]
    * at `SPARK_GRAFT_CPUS` cores (default: the available processors). */
  private[graft] def session(): SparkSession =
    if (sys.props.contains("spark.master")) {
      val b = SparkSession.builder()
      // builder options beat spark-submit's --conf: fill in only what it left unset
      Seq("spark.sql.session.timeZone" -> "UTC", "spark.sql.adaptive.enabled" -> "true")
        .foreach { case (k, v) => if (!sys.props.contains(k)) b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    } else {
      val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)
      Bench.localSession(cpus, cpus)
    }

  /** The mode `args.head` names, bound to its arguments; it emits its
    * JSON lines through the given function. Any other first argument
    * fails with [[usage]]. */
  def parse(args: Seq[String]): (SparkSession, String => Unit) => Unit = {
    def num(rest: Seq[String], i: Int, default: Long) =
      rest.lift(i).fold(default)(_.toLong)
    args match {
      case "queries" +: names =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        val repeats = sys.env.getOrElse("GRAFT_REPEATS", "3").toInt
        val plansDir = sys.env.get("GRAFT_PLANS_DIR")
        val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
        (spark, emit) => emit(queries(spark, sfDir, all, repeats, plansDir))
      case "stress" +: rest =>
        (spark, emit) => stress(spark, num(rest, 0, 24000000L),
          num(rest, 1, 6000000L), num(rest, 2, 10).toInt, num(rest, 3, 2).toInt, emit)
      case "scaling" +: rest =>
        (spark, emit) => emit(scaling(spark, num(rest, 0, 24000000L), num(rest, 1, 6000000L)))
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  /** Executors × cores per executor of a `local-cluster[n,c,mem]` master. */
  def clusterWidth(master: String): Option[Int] =
    """local-cluster\[(\d+),(\d+),\d+\]""".r.findFirstMatchIn(master)
      .map(m => m.group(1).toInt * m.group(2).toInt)

  /** Cores the session runs on. A cluster's width comes from the master
    * string: right after startup its executors have not registered and
    * defaultParallelism reads its 2-core floor, which would
    * under-decompose the 4N side's shuffle 4×. */
  private def width(spark: SparkSession): Int =
    clusterWidth(spark.sparkContext.master).getOrElse {
      spark.range(1L << 20).count() // local[n] / yarn: a job registers the executors
      spark.sparkContext.defaultParallelism
    }

  /** Full-size warm-up (JIT and codegen at this shape), then `runs`
    * timed samples, each after a `System.gc()`. */
  def samples[A](runs: Int)(job: => A): Seq[(A, Double)] = {
    job
    (1 to runs).map { _ => System.gc(); Bench.time(job) }
  }

  private def best(runs: Int)(job: => Any): Double = samples(runs)(job).map(_._2).min

  /** One JSON line: `fields`, then the footer, with load and steal taken
    * over the evaluation of `fields`. */
  private def line(cores: Int)(fields: => String): String = {
    val load0 = Bench.loadavg
    val jiffies0 = Bench.cpuJiffies
    val f = fields
    s"""{$f,"cores":$cores,"loadavg_start":"$load0",""" +
      s""""loadavg_end":"${Bench.loadavg}","steal_pct":"${Bench.stealPctSince(jiffies0)}"}"""
  }

  /** Runs `body` with `kv` set on the session conf, then restores the
    * previous values. */
  private def withConf[A](spark: SparkSession, kv: (String, Any)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The Bench jobs' shape in `stress` and `scaling`: shuffle
    * over-decomposed 4× the cores (straggler smoothing, and the
    * many-splits shape of a large input), and input generated at the
    * session's real width from the first warm-up on. */
  private def benchShape[A](spark: SparkSession, cores: Int)(body: => A): A =
    withConf(spark, "spark.sql.shuffle.partitions" -> cores * 4,
      "graft.bench.parallelism" -> cores)(body)

  def queries(spark: SparkSession, sfDir: String, names: Seq[String],
              repeats: Int, plansDir: Option[String]): String = {
    val cores = width(spark)
    withConf(spark, "spark.sql.shuffle.partitions" -> cores) {
      line(cores) {
        val qs = names.map { name =>
          val fn = SparkEntry.queries(name)
          plansDir.foreach { dir =>
            val plan = fn(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.txt"), plan)
          }
          spark.sparkContext.setJobDescription(s"measure queries: $name")
          val ss =
            try samples(repeats)(Bench.outputHash(fn(spark, sfDir)))
            finally spark.sparkContext.setJobDescription(null)
          val secs = ss.map(_._2)
          s""""$name":{"samples":[${secs.map(s => f"$s%.3f").mkString(",")}],""" +
            s""""min":${f"${secs.min}%.3f"},"hash":${ss.last._1}}"""
        }
        s""""bench_extra":${qs.mkString("{", ",", "}")},"sf":"$sfDir""""
      }
    }
  }

  /** The heap memory pools. The sum of their peaks since a reset is an
    * upper bound on concurrent heap use, enough for the "no proportional
    * buffering" check. */
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def stress(spark: SparkSession, nAssign: Long, nPipeline: Long, factor: Int,
             runs: Int, emit: String => Unit): Unit = {
    val cores = width(spark)
    def one(job: String, small: Long, run: Long => Any): String = line(cores) {
      val sSmall = best(runs)(run(small))
      val big = small * factor
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val sBig = best(runs)(run(big))
      val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
      val rateSmall = (small / sSmall).toLong
      val rateBig = (big / sBig).toLong
      val ratio = rateBig.toDouble / rateSmall
      f""""job":"$job","rows_small":$small,"sec_small":$sSmall%.2f,""" +
        f""""rows_per_sec_small":$rateSmall,"rows_big":$big,"sec_big":$sBig%.2f,""" +
        f""""rows_per_sec_big":$rateBig,"rate_ratio_big_over_small":$ratio%.3f,""" +
        f""""peak_heap_mb_big":$peakMb,"runs":$runs,""" +
        f""""xmx_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)}"""
    }
    benchShape(spark, cores) {
      emit(one("tile_assign", nAssign, Bench.tileAssignJobN(spark, _)))
      emit(one("pipeline", nPipeline, Bench.pipelineJobN(spark, _)))
    }
  }

  def scaling(spark: SparkSession, nAssign: Long, nPipeline: Long): String = {
    val cores = width(spark)
    benchShape(spark, cores) {
      line(cores) {
        val aSec = best(3)(Bench.tileAssignJobN(spark, nAssign))
        val pSec = best(3)(Bench.pipelineJobN(spark, nPipeline))
        f""""master":"${spark.sparkContext.master}",""" +
          f""""assign_rows":$nAssign,"assign_sec":$aSec%.3f,""" +
          f""""pipeline_rows":$nPipeline,"pipeline_sec":$pSec%.3f,"load":"${Bench.loadavg}""""
      }
    }
  }
}
