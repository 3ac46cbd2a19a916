package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CrownOps, GeoOps}
import graft.tables.PagesGen

/** Per-round benchmark (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line. The headline metric
  * is the BASELINE.json north metric — spatial-join + tile-assignment
  * rows/sec over the synthesized pages table — plus per-query seconds
  * for the full SparkEntry surface.
  */
object Bench {

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 1-minute loadavg for run transparency (shared by the bench
    * entry points). */
  def loadavg: String =
    scala.util.Try(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ").take(1).mkString)
      .getOrElse("?")

  /** (steal, total) jiffies from /proc/stat — the hypervisor
    * co-tenancy detector loadavg lacks: round-7 measurement found
    * quiet-loadavg windows where 5-10% of busy CPU time was stolen by
    * the host, depressing every 8-core-wide reading in BOTH scaling
    * topologies while 2-core sides barely moved. Every bench artifact
    * now carries the steal share over its own interval so such
    * windows self-identify. */
  def cpuJiffies: (Long, Long) =
    scala.util.Try {
      val f = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/stat")).linesIterator.next()
      val v = f.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }.getOrElse((0L, 0L))

  /** Percent of ALL cpu jiffies stolen since `start` (2 decimals;
    * multiply by ncores/busycores mentally for the per-run impact). */
  def stealPctSince(start: (Long, Long)): String = {
    val (s0, t0) = start
    val (s1, t1) = cpuJiffies
    if (t1 <= t0) "?" else f"${100.0 * (s1 - s0) / (t1 - t0)}%.2f"
  }

  /** xor of xxhash64 over EVERY output column — the per-query bench
    * checksum, shared with QueryGoldenSpec's committed goldens so the
    * measured artifact and the verified artifact are the same hash.
    * Order-independent (xor) and covers all columns (a bare count()
    * would let Catalyst prune the operator under test away). */
  def outputHash(df: DataFrame): Long = {
    val row = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Pages with 4× core overpartitioning — the realistic 100-TB shape
    * (way more splits than slots) and straggler insurance: with one
    * partition per core a single externally-slowed task stretches the
    * whole job by its full delay. */
  private def pagesOverPartitioned(spark: SparkSession, n: Long) = {
    // `graft.bench.parallelism` overrides defaultParallelism: right
    // after a cluster session starts, executors may not have
    // registered yet and defaultParallelism reads its 2-core floor —
    // Measure sets the override from the master string so even the
    // first warm-up runs at the cluster's real width
    val par = spark.conf.getOption("graft.bench.parallelism").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    PagesGen.projectColumns(spark.range(0, n, 1, par * 4).toDF("i"))
  }

  /** The north-metric job: pages → geocode → covering-tile explode →
    * (region, tile) counts. Output rows = assignments. */
  def tileAssignJobN(spark: SparkSession, n: Long): Long = {
    // the full ingest shape: text materialized (the 100-TB job reads it
    // from the table) and checksummed per assignment row — asserting the
    // byte-identical-text invariant is part of the measured work, and it
    // keeps Catalyst from pruning the payload away into a pure-LCG job.
    val assigned = GeoOps.assignTiles(pagesOverPartitioned(spark, n))
    val agg = assigned.groupBy(col("region"), col("tile_id"))
      .agg(count(lit(1)).as("cnt"), sum(crc32(col("text"))).as("chk"))
      .agg(sum(col("cnt")), sum(col("chk"))).head()
    agg.getLong(0)
  }

  def tileAssignJob(spark: SparkSession, sfDir: String): Long =
    tileAssignJobN(spark, PagesGen.rowsFor(sfDir))

  /** Full geometry pipeline (synth → NMS → merge) — the merge phase.
    * emitGeom = false: the job counts merged instances, so it skips the
    * dissolved-ring border trace that no consumer of this job reads. */
  def pipelineJobN(spark: SparkSession, n: Long): Long = {
    val assigned = GeoOps.assignTiles(pagesOverPartitioned(spark, n))
    val crowns = CrownOps.synthesize(spark, assigned, GeoOps.TileGrid.Default)
    CrownOps.nmsMerge(spark, crowns, 0.7, 0.3, 0.5, emitGeom = false).toDF().count()
  }

  def pipelineJob(spark: SparkSession, sfDir: String): Long =
    pipelineJobN(spark, PagesGen.rowsFor(sfDir))

  /** tmpfs root if present and writable — ONE policy for every
    * storage-placement decision (the bench shuffle dir here and
    * SparkEntry's round-trip scratch), so a future capacity check or
    * override lands everywhere at once. */
  private[graft] def shmRoot: Option[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p))
      Some(p)
    else None
  }

  /** The local bench session — ONE recipe shared with [[Measure]]
    * so both mains measure the same engine configuration (a conf
    * fix applied here cannot silently leave the stress numbers running
    * different settings). */
  def localSession(cores: Int, shufflePartitions: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    shmRoot.foreach(r =>
      builder.config("spark.local.dir", r.resolve("graft-shuffle").toString))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = localSession(cpus, cpus)

    // load transparency: both artifacts of the rounds-4/5 postmortems
    // recorded externally-noisy windows that silently understated the
    // engine by ~1.8× — carry the 1-minute loadavg at start and end so
    // a noisy sample self-identifies in the JSON instead
    val loadStart = loadavg
    val jiffies0 = cpuJiffies

    // NORTH-METRIC HEADLINE at the 24M-row stress scale (round 7): the
    // sf0.1 job is <2 s warm and swung ~2× between QUIET runs across
    // rounds 5-6 (316k-703k pages/s on comparable engines) — at that
    // duration the number measures C2/codegen warm-up state, not the
    // engine. The same job at 24M rows is the scale StressBench has
    // reported stably across rounds, so the headline now runs there;
    // the sf-scale samples stay in `queries` (headline_tile_assign /
    // headline_pipeline) to bridge rounds ≤ 6. Best-of-4 timed runs
    // with every sample emitted.
    val headlineRows =
      sys.env.getOrElse("SPARK_GRAFT_HEADLINE_ROWS", "24000000").toLong
    val pipelineRows = headlineRows / 4 // same 24M:6M ratio as StressBench
    // the 24M-scale headline runs at StressBench's shuffle shape
    // (cores × 4 over-decomposition — straggler insurance at this
    // scale) so the two artifacts' rates are comparable numbers for
    // the same plan; the per-query sf sweep below keeps its historical
    // cores-wide shape for round-over-round comparability
    spark.conf.set("spark.sql.shuffle.partitions", cpus * 4)
    // FULL-SIZE warm-up + best-of-4, the StressBench protocol: a
    // reduced-size warm-up left the first full-size sample 1.5-3×
    // slower than the second (C2 recompilation at the bigger shuffle
    // shape), and warm-up measurably continues into the second full
    // pass — back-to-back best-of-3 runs read 18% apart, while a
    // single-JVM probe showed two consecutive best-of-SIX readings
    // within 4.5%; best-of-4 is the cost/stability compromise
    tileAssignJobN(spark, headlineRows) // warm-up: JIT + codegen, full shape
    val assignSamples = (1 to 4).map { _ =>
      System.gc(); time(tileAssignJobN(spark, headlineRows))
    }
    val assignRows = assignSamples.head._1
    val assignSec = assignSamples.map(_._2).min
    val rowsPerSec = (headlineRows / assignSec).toLong

    pipelineJobN(spark, pipelineRows) // warm-up
    val pipelineSamples = (1 to 4).map { _ =>
      System.gc(); time(pipelineJobN(spark, pipelineRows))
    }
    val mergedRows = pipelineSamples.head._1
    val pipelineSec = pipelineSamples.map(_._2).min
    val pipelineRowsPerSec = (pipelineRows / pipelineSec).toLong

    // sf-scale headline samples (rounds ≤ 6 unit) for the queries
    // table — bridges old artifacts; single timed run each after the
    // 24M runs above have fully warmed the path
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    val (_, sfAssignSec) = time(tileAssignJob(spark, sfDir))
    val (_, sfPipelineSec) = time(pipelineJob(spark, sfDir))

    // per-query reruns above this cost get a second sample (best-of-2):
    // long queries are where an external stall distorts a round-over-
    // round comparison most, and they amortize the rerun cost
    val rerunAbove = 2.0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      System.gc() // isolate queries from each other's allocation debt
      // checksum EVERY output column (xor of row hashes) — a bare
      // count() let Catalyst prune projection-only queries down to a
      // row count, so regressions in the actual operator were
      // invisible in the per-query numbers
      def once(): (Boolean, Double) = time {
        try {
          outputHash(fn(spark, sfDir))
          true
        } catch {
          case e: Throwable =>
            // a swallowed failure reads as a fast query in BENCH_rN —
            // fail loudly instead: name + exception to stderr, "err"
            // in the JSON
            System.err.println(s"BENCH QUERY FAILED: $name — $e")
            false
        }
      }
      val (ok, sec1) = once()
      if (ok && sec1 > rerunAbove) {
        System.gc()
        val (ok2, sec2) = once()
        // the first run already produced a valid measurement; a
        // transient rerun failure (logged by once()) must not turn a
        // measured query into "err" or report the failed run's
        // duration — but it also must NOT count as rerun-confirmed
        // (runs=1), or rerun_queries would claim a single sample was
        // cross-checked
        (name, if (ok2) math.min(sec1, sec2) else sec1, true, if (ok2) 2 else 1)
      } else (name, sec1, ok, 1)
    }
    val loadEnd = loadavg
    val qs = (results ++ Seq(
      ("headline_tile_assign", sfAssignSec, true, 1),
      ("headline_pipeline", sfPipelineSec, true, 1)))
      .map { case (k, v, ok, _) =>
        "\"" + k + "\":" + (if (ok) f"$v%.3f" else "\"err\"") }
      .mkString("{", ",", "}")
    // name WHICH queries were best-of-2 — the artifact must let a
    // reader tell a rerun-confirmed number from a single (possibly
    // stall-distorted) sample; the count is derivable, so it isn't a
    // separate field that could drift
    val rerunNames = results.filter(_._4 == 2).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // total_sec: sum of the reported per-query numbers (best-of-2
    // minima where rerun) — comparable to rounds ≥ 6; wall_sec is the
    // true elapsed wall time of the whole bench including warm-ups and
    // second samples (the rounds ≤ 5 total_sec had neither meaning)
    val total = results.map(_._2).sum + sfAssignSec + sfPipelineSec
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    println(
      s"""{"metric":"tile_assign_pages_per_sec","value":$rowsPerSec,"unit":"rows/sec",""" +
      s""""headline_rows":$headlineRows,"pipeline_rows":$pipelineRows,""" +
      s""""pipeline_rows_per_sec":$pipelineRowsPerSec,""" +
      s""""total_sec":${f"$total%.2f"},"wall_sec":${f"$wallSec%.2f"},""" +
      s""""assign_rows":$assignRows,"merged_rows":$mergedRows,""" +
      s""""queries":$qs,"sf":"$sfDir","cores":$cpus,""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
      s""""steal_pct":"${stealPctSince(jiffies0)}",""" +
      s""""headline_samples":[${assignSamples.map(s => f"${s._2}%.3f").mkString(",")}],""" +
      s""""pipeline_samples":[${pipelineSamples.map(s => f"${s._2}%.3f").mkString(",")}],""" +
      s""""sf_headline_samples":[${f"$sfAssignSec%.3f"},${f"$sfPipelineSec%.3f"}],""" +
      s""""rerun_queries":$rerunNames}""")
    spark.stop()
  }
}
