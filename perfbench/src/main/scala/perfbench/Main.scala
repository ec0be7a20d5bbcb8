package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: Path, hashes: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("data")),
      Paths.get(need("hashes")))
  }
}

/** What one run measured: the end-to-end metrics of BENCHMARK.json, the
  * headline metrics and context for the report line, the per-layer
  * metrics of a traced run, and the correctness tally.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val headline = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Batches or passes of the measured window, and the window (epoch ms). */
  var spanBatches = 0
  var spanWindow: (Long, Long) = (0L, 0L)

  def fail(msg: String, count: Long = 1): Unit = {
    failed += count; correct = false; problems += msg
  }
}

/** Runs one workload in one JVM and prints two lines: `REPORT {...}` with
  * every measured value and its context, then `RESULT {...}` with the
  * metrics, which the launcher turns into the benchmark's last line.
  */
object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "peak_rss_mb", "latency_p50_ms",
    "latency_p95_ms", "throughput_per_s", "readback_s", "cpu_s")
  val HeadlineMetrics: Seq[String] = Seq("setup_s", "peak_rss_mb", "failed_ratio",
    "lost_events", "delivery_p50_ms", "delivery_p95_ms", "drain_events_per_s",
    "publish_read_s", "query_total_s")
  val Workloads: Seq[String] = Seq("cdc_ingest", "backfill_analytics")

  /** Every per-layer metric a traced run reports, in order. A workload
    * reports 0 for a layer it does not exercise (no hooks and no queries in
    * `cdc_ingest`; no source backlog in the preloaded backfill).
    */
  val Layers: Seq[String] = Seq(
    "sources.list_ms", "sources.backlog_segments_max", "sources.backlog_segments_end",
    "sources.lag_ms", "sources.scan_ms",
    "streaming.trigger_overhead_ms", "streaming.commit_ms", "streaming.marker_ms",
    "streaming.store_publish_ms", "streaming.files_per_batch",
    "streaming.bytes_per_event", "streaming.direct_write_share",
    "cdc.parse_ms", "cdc.rules_ms", "cdc.validate_dedup_ms", "cdc.events_per_line",
    "cdc.invalid", "cdc.duplicates_dropped", "cdc.lost_valid_events",
    "cdc.lost_invalid_events", "cdc.poison_line_drains",
    "maint.scd_latest_ms", "maint.daily_metrics_ms", "maint.histogram_ms",
    "maint.hll_ms", "maint.dq_suite_ms", "maint.batch_ms",
    "spark.jobs", "spark.tasks", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.parallel_efficiency") ++
    QueryWorkloads.All.flatMap(q => Seq(s"query.$q.s", s"query.$q.jobs")) :+
    "trace.overhead_latency_p50_pct"

  def session(a: Args, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", a.work.resolve("local").toAbsolutePath.toString)
      // the pipeline runs on a cloned session, which inherits this from the
      // context configuration: keep every progress report of a run
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val cores = Host.cores
    val steal0 = Host.stealS
    val load0 = Host.load1
    Files.createDirectories(a.work)
    val spark = session(a, cores)
    Stats.phase("session ready")
    // a traced run attaches the listener only around what it measures
    val counters = if (a.trace) Some(new Counters(spark.sparkContext)) else None
    val res = new Result
    val root = a.work.resolve(a.workload)
    try a.workload match {
      case "cdc_ingest" => StreamWorkloads.ingest(spark, a, root, counters, res)
      case _ => StreamWorkloads.backfill(spark, a, root, counters, res)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"${a.workload} threw: $e")
    }
    res.e2e("peak_rss_mb") = Host.peakRssMb
    Stats.phase("done")

    counters.foreach { c =>
      c.off()
      val (from, to) = res.spanWindow
      c.window(from, to).metrics(res.spanBatches, (to - from) / 1000.0, cores)
        .foreach { case (k, v) => res.layers(k) = v }
    }
    res.headline("setup_s") = res.e2e.get("setup_s")
    res.headline("peak_rss_mb") = res.e2e("peak_rss_mb")
    res.headline("failed_ratio") = res.failed.toDouble / math.max(res.attempted, 1L)
    res.report("context") = Map("cores" -> cores, "steal_s" -> (Host.stealS - steal0),
      "load1_start" -> load0, "load1_end" -> Host.load1,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace)
    res.report("problems") = res.problems.toSeq
    Stats.phase("stopping")
    spark.stop()
    Stats.phase("stopped")

    val metrics =
      if (a.trace) Layers.map(k => k -> res.layers.getOrElse(k, 0.0)).toMap
      else EndToEnd.map(k => k -> res.e2e.getOrElse(k, Double.NaN)).toMap
    println("REPORT " + Json(Map("workload" -> a.workload, "trace" -> a.trace,
      "metrics" -> HeadlineMetrics.map(k => k -> res.headline.getOrElse(k, None)).toMap,
      "end_to_end" -> res.e2e, "per_layer" -> res.layers, "report" -> res.report)))
    println("RESULT " + Json(Map("correct" -> res.correct, "attempted" -> math.max(res.attempted, 1L),
      "failed" -> res.failed, "metrics" -> metrics)))
  }
}
