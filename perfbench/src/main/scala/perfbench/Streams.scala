package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.{ChangeStream, Rules, Schemas, Validate}
import graft.streaming.Pipeline

/** Wall-clock stamps the pipeline's public hooks give per micro-batch:
  * `failpoint` fires after the store+publish data commit,
  * `postPublishFailpoint` after the publish marker, and each maintenance
  * hook is wrapped to record its own span.
  */
final class Marks {
  val commit = new ConcurrentHashMap[Long, Long]()
  val marker = new ConcurrentHashMap[Long, Long]()
  val hooks = new ConcurrentLinkedQueue[(Long, String, Long, Long)]() // batch, hook, start, end

  // a missing key of a map of scala Longs reads as 0, not null
  def commitOf(batch: Long): Option[Long] =
    if (commit.containsKey(batch)) Some(commit.get(batch)) else None
  def markerOf(batch: Long): Option[Long] =
    if (marker.containsKey(batch)) Some(marker.get(batch)) else None

  def timed(name: String, f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (b, id) => {
      val t0 = Stats.now()
      try f(b, id) finally hooks.add((id, name, t0, Stats.now()))
    }
}

/** One streaming run of `Pipeline.run` over a ledger, with its timings. */
final class Run(val dir: Path, val marks: Marks, val q: StreamingQuery,
                val startedMs: Long) {
  def ledger: Path = dir.resolve("ledger")
  def sink: String = dir.resolve("sink").toString

  /** Every progress report of the run (the session keeps all of them). */
  def progress: Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  def awaitMarker(batchId: Long, timeoutMs: Long): Unit = {
    val end = Stats.now() + timeoutMs
    while (!marks.marker.containsKey(batchId)) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("stream stopped before batch " + batchId)
      if (Stats.now() > end) throw new IllegalStateException(s"batch $batchId not published in $timeoutMs ms")
      Thread.sleep(2)
    }
  }
}

object Streams {
  val Db = "hrdb"

  def start(spark: SparkSession, dir: Path, trigger: Trigger,
            maxFiles: Option[Int],
            hooks: Marks => Seq[(DataFrame, Long) => Unit]): Run = {
    val marks = new Marks
    Files.createDirectories(dir.resolve("ledger"))
    val t0 = Stats.now()
    val q = Pipeline.run(spark, dir.resolve("ledger").toString,
      dir.resolve("sink").toString, dir.resolve("checkpoint").toString,
      maxFilesPerTrigger = maxFiles, trigger = trigger,
      failpoint = id => marks.commit.put(id, Stats.now()),
      postPublishFailpoint = id => marks.marker.put(id, Stats.now()),
      maintenance = hooks(marks))
    new Run(dir, marks, q, t0)
  }

  /** The five production maintenance hooks, each wrapped in a span. */
  def productionHooks(stateDir: Path, salt: String)(m: Marks): Seq[(DataFrame, Long) => Unit] = {
    val st = stateDir.toString
    Seq(
      m.timed("scd_latest", (b, i) => graft.cdc.Scd.mergeBatchLatest(b,
        Seq("aggregateId"), "timestamp", "eventId", s"pb_latest_$salt", s"$st/latest", i)),
      m.timed("daily_metrics", (b, i) => graft.cdc.Metrics.mergeBatchDaily(b,
        to_date(col("timestamp")), col("eventType"), lit(0L),
        s"pb_daily_$salt", s"$st/daily", i)),
      m.timed("histogram", (b, i) => graft.operators.Quantiles.mergeBatch(
        b.select(col("eventType"),
          (pmod(unix_micros(col("timestamp")), lit(86400000000L))
            / lit(1000000L) + lit(1L)).cast("long").as("v")),
        Seq("eventType"), "v", s"pb_hist_$salt", s"$st/hist", i)),
      m.timed("hll", (b, i) => graft.operators.Hll.mergeBatch(b,
        Seq("eventType"), "aggregateId", s"pb_hll_$salt", s"$st/hll", i)),
      m.timed("dq_suite", (b, i) => graft.operators.Checks.mergeBatchSuite(b,
        Seq(graft.operators.Checks.notNull("aggregateId"),
          graft.operators.Checks.matches("eventType", "^[A-Za-z]+$"),
          graft.operators.Checks.notNull("payload")),
        "timestamp", s"pb_dq_$salt", s"$st/dq", i)))
  }

  /** Per-directory consumed-segment counts of a source offset. */
  def offsetCounts(json: String): Map[String, Int] =
    if (json == null) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      node.fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    }

  def duration(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Event counts by `eventType` of a domain-event frame. */
  def countsByType(df: DataFrame): Map[String, Long] =
    df.groupBy("eventType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The stored, published and consumer-read event counts against the
    * ledger's ground truth. Each (tree, eventType) mismatch is a failure;
    * invalid events that reach no dead-letter tree are lost events, the
    * pipeline's known defect, reported but not failed.
    */
  def verify(spark: SparkSession, sink: String, truth: Truth, res: Result): Unit = {
    res.report("ground_truth") = Map("lines" -> truth.lines, "invalid" -> truth.invalid,
      "duplicates" -> truth.duplicates, "no_event" -> truth.silent,
      "expected" -> truth.expected)
    val store = countsByType(Pipeline.readEventStore(spark, Pipeline.storeDir(sink)))
    val views = Seq(
      "store" -> store,
      "publish" -> countsByType(Pipeline.readEventStore(spark, Pipeline.publishDir(sink))),
      "read_published" -> countsByType(Pipeline.readPublished(spark, sink)))
    val types = (truth.expected.keySet ++ views.flatMap(_._2.keySet)).toSeq.sorted
    for ((view, got) <- views; t <- types) {
      res.attempted += 1
      val want = truth.expected.getOrElse(t, 0L)
      val have = got.getOrElse(t, 0L)
      if (want != have) res.fail(s"$view $t: stored $have, expected $want")
    }
    val deadDir = new java.io.File(sink, "_sink=deadletter")
    val deadLettered =
      if (deadDir.exists()) spark.read.parquet(deadDir.toString).count() else 0L
    val missingValid = truth.expected.map { case (t, n) =>
      math.max(0L, n - store.getOrElse(t, 0L)) }.sum
    res.headline("lost_events") = missingValid + math.max(0L, truth.invalid - deadLettered)
    res.layers("cdc.lost_valid_events") = missingValid.toDouble
    res.layers("cdc.lost_invalid_events") = math.max(0L, truth.invalid - deadLettered).toDouble
  }

  /** Consumer read of the publish tree: every column, to the `noop` sink.
    * The first `warm` reads are untimed (the read path is still being
    * compiled, each read faster than the last); the metric is the median
    * of the `reps` reads after them.
    */
  def readback(spark: SparkSession, sink: String, res: Result,
               warm: Int = 6, reps: Int = 9): Unit = {
    def read(): Double = Stats.timed(
      Pipeline.readPublished(spark, sink).write.format("noop").mode("overwrite").save())._2
    (1 to warm).foreach(_ => read())
    val times = (1 to reps).map(_ => read())
    res.e2e("readback_s") = Stats.median(times)
    res.headline("publish_read_s") = Stats.median(times)
    res.report("readback_reps_s") = times
  }

  /** Sizes of the parquet data files under the sink. */
  def sinkFiles(sink: String): Seq[Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(sink)).filter(_.getName.endsWith(".parquet")).map(_.length())
  }

  /** Per-layer write-side metrics: files per batch, bytes per stored event,
    * share of batches small enough for the direct (exchange-free) write.
    */
  def writeSide(sink: String, batches: Int, events: Long,
                admittedBytes: Seq[Long], res: Result): Unit = {
    val files = sinkFiles(sink)
    res.layers("streaming.files_per_batch") = files.size.toDouble / math.max(batches, 1)
    res.layers("streaming.bytes_per_event") = files.sum.toDouble / math.max(events, 1L)
    res.layers("streaming.direct_write_share") =
      if (admittedBytes.isEmpty) 0.0
      else admittedBytes.count(_ <= Pipeline.DirectWriteMaxBytes).toDouble / admittedBytes.size
  }

  /** Trace-only prefix microbench over a fixed ledger slice: each prefix
    * scan → deserialize → applyAll → split+dropDuplicates → storeThenPublish
    * runs `reps` times; a layer's cost is its prefix minus the previous one,
    * in ms per 10k lines.
    */
  def prefixBench(spark: SparkSession, slice: Path, lines: Long, out: Path,
                  res: Result, reps: Int = 2): Unit = {
    val wire = spark.read.format("graft-changelog").load(slice.toString)
    val tables = Files.list(slice.resolve(Db)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    def envelopes(t: String) =
      ChangeStream.deserialize(wire.filter(col("table") === t), Schemas.tables(t))
    def events = tables.map(t => Rules.applyAll(envelopes(t), t)).reduce(_.unionByName(_))
    def deduped = Validate.split(events).valid.dropDuplicates("eventId")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var batch = 0L
    val steps: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => tables.foreach(t => noop(wire.filter(col("table") === t)))),
      "parse" -> (() => tables.foreach(t => noop(envelopes(t)))),
      "rules" -> (() => noop(events)),
      "validate_dedup" -> (() => noop(deduped)),
      "store_publish" -> (() => {
        batch += 1
        Pipeline.storeThenPublish(deduped, batch, out.toString, directWrite = true)
      }))
    steps.foreach(_._2()) // warm every prefix once
    val cost = steps.map { case (n, f) => n -> Stats.median((1 to reps).map(_ => Stats.timed(f())._2)) }
    val per10k = 10000.0 / math.max(lines, 1L) * 1000.0
    val deltas = cost.zip(("", 0.0) +: cost).map { case ((n, c), (_, prev)) =>
      n -> math.max(0.0, c - prev) * per10k }.toMap
    res.layers("sources.scan_ms") = deltas("scan")
    res.layers("cdc.parse_ms") = deltas("parse")
    res.layers("cdc.rules_ms") = deltas("rules")
    res.layers("cdc.validate_dedup_ms") = deltas("validate_dedup")
    res.layers("streaming.store_publish_ms") = deltas("store_publish")
    val nEvents = events.count()
    val split = Validate.split(events)
    val nValid = split.valid.count()
    res.layers("cdc.events_per_line") = nEvents.toDouble / math.max(lines, 1L)
    res.layers("cdc.invalid") = split.deadLetter.count().toDouble
    res.layers("cdc.duplicates_dropped") = (nValid - deduped.count()).toDouble
  }

  /** Maintenance per-layer metrics: median per batch of each hook's span and
    * of the whole trailing phase (first hook start to last hook end).
    */
  def maintenance(marks: Marks, batches: Set[Long], res: Result): Unit = {
    val spans = marks.hooks.asScala.toSeq.filter(s => batches.contains(s._1))
    Seq("scd_latest", "daily_metrics", "histogram", "hll", "dq_suite").foreach { h =>
      val xs = spans.filter(_._2 == h).map(s => (s._4 - s._3).toDouble)
      res.layers(s"maint.${h}_ms") = if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val perBatch = spans.groupBy(_._1).values.map(s => (s.map(_._4).max - s.map(_._3).min).toDouble).toSeq
    res.layers("maint.batch_ms") = if (perBatch.isEmpty) 0.0 else Stats.median(perBatch)
  }

  /** Phase medians over batches, from progress reports and stamps. */
  def phases(run: Run, ps: Seq[StreamingQueryProgress], res: Result): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    res.layers("sources.list_ms") = med(ps.map(duration(_, "latestOffset", "getBatch")))
    res.layers("streaming.trigger_overhead_ms") =
      med(ps.map(duration(_, "queryPlanning", "walCommit", "commitOffsets")))
    res.layers("streaming.commit_ms") = med(ps.flatMap(p =>
      run.marks.commitOf(p.batchId).map(c => (c - startMs(p)).toDouble)))
    res.layers("streaming.marker_ms") = med(ps.flatMap(p =>
      for (c <- run.marks.commitOf(p.batchId);
           m <- run.marks.markerOf(p.batchId)) yield (m - c).toDouble))
  }

  /** The known defect, shown rather than avoided: a ledger holding one
    * malformed line (`{not json`) before a valid one. Reports whether the
    * stream drains it; today the malformed line fails the query.
    */
  def poisonLineDrains(spark: SparkSession, dir: Path): Boolean = {
    val led = new Ledger(7L)
    val t = new Truth
    val ok = led.employee(t)
    Ledger.writeSegment(dir.resolve("ledger"), Db, "employees", Ledger.segmentName(1),
      Seq("{not json", ok))
    val run = start(spark, dir, Trigger.AvailableNow(), None, _ => Nil)
    val drained = scala.util.Try(run.q.awaitTermination(60000L)).toOption.contains(true) &&
      run.q.exception.isEmpty
    run.q.stop()
    drained && scala.util.Try(countsByType(Pipeline.readPublished(spark, run.sink)).values.sum)
      .toOption.contains(t.validEvents)
  }
}
