package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Engine counters from a `SparkListener` on the shared SparkContext.
  *
  * Every job is kept with its submission time, so a window of wall-clock
  * time (one query, one pass, one micro-batch) can be charged exactly the
  * jobs submitted inside it — also the jobs a query submits from its own
  * driver threads, which a thread-local tag would miss. The listener is
  * attached with `on()` and detached with `off()`, so a run can measure the
  * same work with and without it: the tracing overhead.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  import Counters.Stage
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])] // submit ms, stages
  private val stages = mutable.HashMap.empty[Int, Stage]
  @volatile private var attached = false

  def isOn: Boolean = attached

  def on(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }

  /** Detaches after the bus has delivered every queued event, so the
    * counts of the work done while attached are complete.
    */
  def off(): Unit = if (attached) {
    ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElseUpdate(e.stageId, new Stage())
    s.tasks += 1
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over the jobs submitted in `[from, to)` (epoch ms). A stage
    * shared by several jobs is counted once.
    */
  def window(from: Long, to: Long): Totals = synchronized {
    val js = jobs.filter { case (t, _) => t >= from && t < to }
    val ss = js.flatMap(_._2).distinct.flatMap(stages.get)
    Totals(js.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1e3,
      ss.map(_.shuffleWrite).sum / 1048576.0, ss.map(_.spill).sum / 1048576.0)
  }
}

object Counters {
  private final class Stage(var tasks: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
                            var shuffleWrite: Long = 0, var spill: Long = 0)
}

final case class Totals(jobs: Long, tasks: Long, cpuS: Double, gcS: Double,
                        shuffleWriteMb: Double, spillMb: Double) {
  /** The `spark.*` per-layer metrics, averaged over `units` batches or
    * passes, with CPU seconds over wall seconds × cores.
    */
  def metrics(units: Int, wallS: Double, cores: Int): Seq[(String, Double)] = {
    val n = math.max(units, 1).toDouble
    Seq("spark.jobs" -> jobs / n, "spark.tasks" -> tasks / n,
      "spark.executor_cpu_s" -> cpuS / n, "spark.gc_s" -> gcS / n,
      "spark.shuffle_write_mb" -> shuffleWriteMb / n,
      "spark.spill_mb" -> spillMb / n,
      "spark.parallel_efficiency" ->
        (if (wallS > 0) cpuS / (wallS * cores) else 0.0))
  }
}

/** Host facts that explain a number: cores, hypervisor steal, load. */
object Host {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  private def read(path: String): Option[String] = scala.util.Try {
    val s = scala.io.Source.fromFile(path)
    try s.mkString finally s.close()
  }.toOption

  /** Cumulative steal seconds (`/proc/stat`, USER_HZ = 100), or -1. */
  def stealS: Double = read("/proc/stat")
    .flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map(_.trim.split("\\s+")(8).toDouble / 100.0).getOrElse(-1.0)

  def load1: Double = read("/proc/loadavg")
    .map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this process in MB (`VmHWM`), or -1. */
  def peakRssMb: Double = read("/proc/self/status")
    .flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  /** CPU seconds this process has used, all threads. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Epoch ms at which this JVM started. */
  def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** How much larger `traced` is than `untraced`, in percent. */
  def pctOver(traced: Double, untraced: Double): Double =
    (traced - untraced) / untraced * 100.0

  def now(): Long = System.currentTimeMillis()

  /** Progress line on stderr: seconds since JVM start and the phase. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench ${(now() - Host.jvmStartMs) / 1000.0}%7.1f s  $name")
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
