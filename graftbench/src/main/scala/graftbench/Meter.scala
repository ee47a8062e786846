package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._

/** Order statistics over samples. A percentile is reported only when at
  * least ten samples lie beyond it; callers get None otherwise.
  */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (same convention as numpy's default). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size * (1 - p) >= 10 - 1e-9) Some(quantile(xs, p)) else None
}

/** One span: a timed call into a layer, made from the benchmark's code.
  * `req` ties the spans of one request together; `parent` names the span
  * that caused it ("" at the top).
  */
case class Span(name: String, startNs: Long, endNs: Long, parent: String, req: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out once, when the run ends. Disabled
  * recorders cost one volatile read per call.
  */
final class Tracer {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: String = "", req: Long = -1L)(f: => T): T = {
    if (!on) return f
    val t0 = System.nanoTime()
    try f finally spans.add(Span(name, t0, System.nanoTime(), parent, req))
  }

  def record(s: Span): Unit = if (on) spans.add(s)

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.forEach { s =>
      w.println(s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":"${s.parent}","req":${s.req}}""")
    } finally w.close()
  }
}

/** What Spark did inside a window: jobs, stages, shuffle and spill bytes,
  * task CPU and run time, and the worst task skew of any stage with at least
  * `minTasks` tasks (max ÷ median task run time).
  */
case class SparkWork(jobs: Int, stages: Int, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, taskCpuNs: Long, taskRunMs: Long, skew: Double)

/** Listener that accumulates [[SparkWork]] over a window. */
final class SparkMeter(sc: SparkContext) extends SparkListener {
  private var jobs, stages = 0
  private var shW, shR, spill, cpu, run = 0L
  private val taskMs = scala.collection.mutable.HashMap[Int, scala.collection.mutable.ArrayBuffer[Long]]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cpu += m.executorCpuTime
      run += m.executorRunTime
      taskMs.getOrElseUpdate(e.stageId, scala.collection.mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  /** Runs `f` and returns what Spark did meanwhile; the listener bus is
    * drained on both sides so no event lands in the wrong window.
    */
  def window(minTasks: Int)(f: => Unit): SparkWork = {
    ListenerDrain(sc)
    synchronized {
      jobs = 0; stages = 0; shW = 0; shR = 0; spill = 0; cpu = 0; run = 0; taskMs.clear()
    }
    f
    ListenerDrain(sc)
    synchronized {
      val skew = taskMs.values.filter(_.size >= minTasks).map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else ts.max / med
      }.foldLeft(1.0)(math.max)
      SparkWork(jobs, stages, shW, shR, spill, cpu, run, skew)
    }
  }
}

/** GC time (ms) summed over the JVM's collectors. */
object Gc {
  def ms(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
}

/** Host context, recorded before and after each workload: not metrics, but
  * what a reader needs to tell a capped window from an engine change.
  */
object Host {
  def snapshot(): Map[String, Double] = {
    val (tot, steal) = graft.tools.CpuProbe.cpuStat()
    val cores = Runtime.getRuntime.availableProcessors()
    Map("nproc" -> cores.toDouble,
      "cpu_efficiency" -> graft.tools.CpuProbe.efficiency(cores, 50000000L),
      "jiffies" -> tot.toDouble, "steal_jiffies" -> steal.toDouble)
  }

  def stealPct(a: Map[String, Double], b: Map[String, Double]): Double = {
    val dt = b("jiffies") - a("jiffies")
    if (dt <= 0) 0.0 else 100.0 * (b("steal_jiffies") - a("steal_jiffies")) / dt
  }
}
