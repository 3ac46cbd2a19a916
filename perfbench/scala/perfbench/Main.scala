package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench

/** One benchmark run: one workload at one seed in one JVM, driven as a
  * closed loop with a single client (this program), one job at a time.
  *
  * Set-up (reported as setup_s) is the JVM and session start, the median of
  * three input preparations, and the first, cold repetition. After
  * `WarmUpS` seconds of untimed repetitions, repetitions run until `--seconds` have
  * passed (at least two); each one is timed, its
  * task CPU read from the listener, and its output checked. `--trace 1`
  * alternates untraced and traced repetitions (the difference is the
  * tracing overhead) and then profiles the layers (see Layers). */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, result: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("dir")), Paths.get(kv("result")))
  }

  val WarmUpS = 4

  /** One repetition's measurements. */
  final case class Rep(seconds: Double, cpuS: Double, peakHeapMb: Double, traced: Boolean)


  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = Bench.loadavg
    val jiffies0 = Bench.cpuJiffies
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.dir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", o.dir.resolve("work/spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark, listener, s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val ctx = Ctx(spark, tracer, o.seed, o.dir, cores)
    val w = Workloads(o.workload, ctx)
    println(s"workload ${w.name} seed ${o.seed}: ${w.describe}; local[$cores]")

    var attempted = 0
    var failed = 0
    /** One repetition plus its check; None if it threw or its output is wrong. */
    def attempt(traced: Boolean, checkNow: Boolean = true): Option[Rep] = {
      attempted += 1
      System.gc()
      LiveHeap.reset()
      tracer.drain()
      val cpu0 = listener.of(listener.All).cpuNs
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val ok = try { tracer.span("rep")(w.rep()); true } catch {
        case e: Throwable => System.err.println(s"repetition $attempted failed: $e"); false
      }
      val s = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      tracer.drain()
      val rep = Rep(s, (listener.of(listener.All).cpuNs - cpu0) / 1e9, LiveHeap.peakMb(), traced)
      val good = ok && (!checkNow || checked())
      if (!good) failed += 1
      if (good) Some(rep) else None
    }
    def checked(): Boolean = {
      val problems = try w.check() catch { case e: Throwable => Seq(s"check threw $e") }
      problems.foreach(p => System.err.println(s"check failed (repetition $attempted): $p"))
      problems.isEmpty
    }

    val prepS = Checks.median((1 to 3).map(_ => Checks.seconds(w.prepare())))
    val cold = attempt(traced = false, checkNow = false)
    // the reference outputs run after the cold repetition, so it stays cold
    w.expect()
    if (cold.isDefined && !checked()) failed += 1
    val setupS = sessionS + prepS + cold.map(_.seconds).getOrElse(0.0)
    println(f"setup: session $sessionS%.3f s, inputs $prepS%.3f s, cold repetition " +
      f"${cold.map(_.seconds).getOrElse(Double.NaN)}%.3f s")

    // untimed warm-up: repetition times keep falling for several seconds
    // after the cold one while the JIT compiles
    val warmUntil = System.nanoTime() + WarmUpS * 1000000000L
    attempt(traced = false)
    while (System.nanoTime() < warmUntil && attempted < 12) attempt(traced = false)
    val reps = ArrayBuffer.empty[Rep]
    val until = System.nanoTime() + o.seconds * 1000000000L
    while (System.nanoTime() < until || reps.size < 2 && attempted < 8)
      attempt(traced = o.trace && reps.size % 2 == 1).foreach(reps += _)
    println("repetition s: " + reps.map(r => f"${r.seconds}%.3f").mkString(" "))

    val m = new Metrics
    def rate(rs: Seq[Rep]) = w.pages / Checks.median(rs.map(_.seconds))
    val untraced = reps.filterNot(_.traced).toSeq
    if (!o.trace) {
      m.put("pages_per_s", rate(untraced), "1/s")
      m.put("cpu_s_per_mpage", Checks.median(untraced.map(_.cpuS)) / (w.pages / 1e6), "s")
      m.put("setup_s", setupS, "s")
    } else {
      val traced = reps.filter(_.traced).toSeq
      m.put("bench.trace.pages_per_s", rate(traced), "1/s")
      m.put("bench.trace.overhead_frac", 1 - rate(traced) / rate(untraced), "ratio")
      // per layer, not end to end: it did not repeat within a tenth across seeds
      m.put("jvm.heap.peak_live_mb", Checks.median(untraced.map(_.peakHeapMb)), "MB")
      tracer.enabled = true
      val (layers, problems) = Layers.profile(ctx, w)
      tracer.enabled = false
      layers.values.foreach { case (k, (v, u)) => m.put(k, v, u) }
      // the profile's CrownJob crash and resume counts as one attempt
      attempted += 1
      problems.foreach(p => System.err.println(s"check failed (layer profile): $p"))
      if (problems.nonEmpty) failed += 1
    }
    val steal = {
      val (s0, t0) = jiffies0
      val (s1, t1) = Bench.cpuJiffies
      if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0
    }
    val host = s"""{"steal_pct":$steal,"loadavg_start":"$loadStart","loadavg_end":"${Bench.loadavg}","cores":$cores}"""
    println(s"host $host")
    println(s"repetitions: $attempted attempted, $failed failed, failed_frac ${failed.toDouble / attempted}")
    if (o.trace) writeTrace(o, tracer, host, m)
    spark.stop()

    val metrics = m.values.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}"""
    Files.write(o.result, result.getBytes(StandardCharsets.UTF_8))
  }

  /** Spans and per-layer metrics of a traced run, as one JSON file. */
  private def writeTrace(o: Opts, tracer: Tracer, host: String, m: Metrics): Unit = {
    val spans = tracer.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"run":"${s.run}","tasks":${s.tasks.tasks},""" +
        s""""cpu_s":${Json.num(s.tasks.cpuS)},"shuffle_write_bytes":${s.tasks.shuffleWriteBytes},""" +
        s""""spill_bytes":${s.tasks.spillBytes},"peak_exec_mem_bytes":${s.tasks.peakExecMemBytes}}"""
    }
    val layers = m.values.map { case (k, (v, u)) => s""""$k":[${Json.num(v)},"$u"]""" }
    val out = o.dir.resolve("trace.json")
    Files.write(out, (s"""{"workload":"${o.workload}","seed":${o.seed},"host":$host,""" +
      s""""layers":${layers.mkString("{", ",", "}")},""" +
      s""""spans":${spans.mkString("[\n", ",\n", "]")}}""").getBytes(StandardCharsets.UTF_8))
    println(s"trace: ${tracer.spans.size} spans written to $out")
  }
}

/** The largest heap occupancy right after a garbage collection since the
  * last reset, over the heap pools: the live set a repetition holds, which
  * unlike the pools' raw peaks does not just read how full eden got. The
  * reading ends with a forced collection, so it has at least one sample. */
object LiveHeap {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val seen = new java.util.concurrent.atomic.AtomicLong()

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak = math.max(peak, used)
          seen.incrementAndGet()
        }, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  def peakMb(): Double = {
    val before = seen.get()
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (seen.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
    peak / 1048576.0
  }
}

object Json {
  /** A finite double as JSON (NaN and infinities, which JSON lacks, as 0). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
