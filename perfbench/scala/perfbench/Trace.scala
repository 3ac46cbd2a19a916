package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics summed over a set of tasks. */
final case class Totals(tasks: Long = 0, cpuNs: Long = 0, shuffleWriteBytes: Long = 0,
                        spillBytes: Long = 0, peakExecMemBytes: Long = 0) {
  def +(o: Totals): Totals = Totals(tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(peakExecMemBytes, o.peakExecMemBytes))
  def cpuS: Double = cpuNs / 1e9
}

/** Sums task metrics per job group (one group per traced call) and over
  * all tasks. Jobs started without a group property (a few Spark-internal
  * paths drop it) are charged to the span open at job start. */
final class TaskListener extends SparkListener {
  val All = "*"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  @volatile var openGroup: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(openGroup)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = Totals(1, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
      Seq(All, stageGroup.getOrDefault(e.stageId, "")).foreach(g =>
        totals.merge(g, t, (a: Totals, b: Totals) => a + b))
    }
  }

  def of(group: String): Totals = totals.getOrDefault(group, Totals())
}

/** One traced call: name, start, end (ns since the run's epoch), the span
  * that caused it, and the run id shared by every span of the run. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      run: String, tasks: Totals) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records a span around each call the benchmark makes into the engine and
  * tags the call's Spark jobs with the span's job group, so the listener
  * attributes their tasks to it. Spans stay in memory until the run writes
  * them out. With `enabled = false` a span is just the call. */
final class Tracer(spark: SparkSession, val listener: TaskListener, val run: String) {
  private val sc = spark.sparkContext
  private val epoch = System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  var enabled = false

  def spans: Seq[Span] = recorded.toSeq

  /** Blocks until every task that has ended so far is in the listener. */
  def drain(): Unit = BusBridge.drain(sc)

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name) :: open
      setGroup(s"span-$id", name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some((p, pName)) => setGroup(s"span-$p", pName)
          case None => sc.clearJobGroup(); listener.openGroup = ""
        }
        drain()
        recorded += Span(id, parent, name, t0 - epoch, t1 - epoch, run,
          listener.of(s"span-$id"))
      }
    }

  private def setGroup(group: String, name: String): Unit = {
    sc.setJobGroup(group, name, interruptOnCancel = false)
    listener.openGroup = group
  }
}
