package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Pipeline

/** The two workloads: both drive `Pipeline.run`. */
object StreamWorkloads {
  import Streams._

  /** Segment interval and events per segment in `cdc_ingest`: 200 ev/s,
    * about half the rate at which a shared 4-core host under hypervisor
    * steal stops keeping up.
    */
  val IngestSegmentMs = 250L
  val IngestEventsPerSegment = 50
  val IngestWarmupMs = 3000L
  val SetupRepeats = 3

  /** Times `SetupRepeats` pipeline starts, each from its own ledger to the
    * publish marker of its first batch. The first is counted from JVM
    * start, so it includes session start-up: the cold set-up, reported as
    * `setup_cold_s`. `setup_s` is the median of all of them, so a restart
    * in a warm JVM. Returns the run of the last set-up, still running, and
    * its generator.
    */
  private def setups(spark: SparkSession, root: Path, res: Result,
                     open: (Int, Path) => (Run, Ledger, Truth)): (Run, Ledger, Truth) = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: (Run, Ledger, Truth) = null
    for (i <- 0 until SetupRepeats) {
      val t0 = if (i == 0) Host.jvmStartMs else Stats.now()
      Stats.phase(s"set-up $i")
      val (run, led, truth) = open(i, root.resolve(s"setup$i"))
      run.awaitMarker(0L, 120000L)
      times += (run.marks.marker.get(0L) - t0) / 1000.0
      if (i < SetupRepeats - 1) {
        // let trailing hooks finish before the stream stops
        if (!run.q.awaitTermination(1L)) { run.q.processAllAvailable(); run.q.stop() }
      } else last = (run, led, truth)
    }
    res.e2e("setup_s") = Stats.median(times.toSeq)
    res.report("setup_cold_s") = times.head
    res.report("setup_runs_s") = times.toSeq
    last
  }

  def ingest(spark: SparkSession, a: Args, root: Path,
             counters: Option[Counters], res: Result): Unit = {
    def segment(led: Ledger, t: Truth, run: Run, i: Int): Long = Ledger.writeSegment(
      run.ledger, Db, "employees", Ledger.segmentName(i),
      (1 to IngestEventsPerSegment).map(_ => led.employee(t)))
    val (run, led, truth) = setups(spark, root, res, (i, dir) => {
      val led = new Ledger(a.seed * 31 + i)
      val t = new Truth
      val run = start(spark, dir, Trigger.ProcessingTime(0L), None, _ => Nil)
      segment(led, t, run, 0)
      (run, led, t)
    })

    Stats.phase("open-loop warm-up and window")
    // open loop: segment k is due at genStart + k·interval whatever the
    // pipeline does; its delivery latency counts from that scheduled time.
    // The first IngestWarmupMs run unmeasured, until the JIT has compiled
    // the batch path; the window [t0, end) is measured. A traced run
    // measures twice as long, with the listener on in the middle half
    // [onFrom, onTo) only, so the batches outside it give the same latency
    // without the listener.
    val genStart = Stats.now()
    val t0 = genStart + IngestWarmupMs
    val windowMs = a.seconds * 1000L * (if (counters.isDefined) 2 else 1)
    val end = t0 + windowMs
    val (onFrom, onTo) = (t0 + windowMs / 4, t0 + 3 * windowMs / 4)
    val due = scala.collection.mutable.ArrayBuffer.empty[Long]
    val written = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cpu0 = Double.NaN
    var onSpan = (Long.MaxValue, Long.MaxValue) // listener attached, detached
    var k = 0
    while (genStart + k * IngestSegmentMs < end) {
      val at = genStart + k * IngestSegmentMs
      val lines = (1 to IngestEventsPerSegment).map(_ => led.employee(truth))
      val wait = at - Stats.now()
      if (wait > 0) Thread.sleep(wait)
      if (at >= t0 && cpu0.isNaN) cpu0 = Host.cpuS
      counters.foreach { c =>
        val want = at >= onFrom && at < onTo
        if (want && !c.isOn) { c.on(); onSpan = (Stats.now(), Long.MaxValue) }
        else if (!want && c.isOn) { c.off(); onSpan = (onSpan._1, Stats.now()) }
      }
      Ledger.writeSegment(run.ledger, Db, "employees", Ledger.segmentName(k + 1), lines)
      due += at
      written += Stats.now()
      k += 1
    }
    val firstMeasured = due.indexWhere(_ >= t0) + 1 // segment file number
    // segment files are numbered 0 (set-up) then 1..k; wait until the
    // publish watermark covers the last, then stop the stream
    val deadline = Stats.now() + 30000L
    def consumed = run.progress.lastOption
      .map(p => offsetCounts(p.sources.head.endOffset).values.sum).getOrElse(0)
    while (consumed < k + 1 && Stats.now() < deadline && run.q.exception.isEmpty) Thread.sleep(20)
    val ps = run.progress
    val cpuS = Host.cpuS - cpu0
    counters.foreach(_.off())
    run.q.stop()
    run.q.exception.foreach(e => res.fail("stream failed: " + e.getMessage))

    // segment i lands with the first batch whose end offset passes it
    val batchEnd = ps.map(p => (offsetCounts(p.sources.head.endOffset).values.sum, p.batchId))
    def batchOf(seg: Int): Option[Long] = batchEnd.find(_._1 > seg).map(_._2)
    val unpublished = (1 to k).count(s => batchOf(s).forall(b => !run.marks.marker.containsKey(b)))
    res.attempted += k
    if (unpublished > 0) res.fail(s"$unpublished of $k segments not published by run end", unpublished)
    val delivery = (firstMeasured to k).flatMap { s =>
      batchOf(s).flatMap(run.marks.markerOf).map(m => (m - due(s - 1)).toDouble)
    }
    require(delivery.size >= 2, "no segment was delivered")
    val lastMarker = (firstMeasured to k).flatMap(s =>
      batchOf(s).flatMap(run.marks.markerOf)).max
    val delivered = delivery.size.toLong * IngestEventsPerSegment
    res.e2e("latency_p50_ms") = Stats.quantile(delivery, 0.5)
    res.e2e("latency_p95_ms") = Stats.quantile(delivery, 0.95)
    res.e2e("throughput_per_s") = delivered / ((lastMarker - t0) / 1000.0)
    res.e2e("cpu_s") = cpuS
    res.report("segments") = k
    res.report("warmup_segments") = firstMeasured - 1
    res.report("delivery_samples") = delivery.size
    res.report("batches") = ps.size
    // how late the generator wrote segments against their schedule
    res.report("generator_late_ms_max") = due.zip(written).map { case (d, w) => w - d }.max
    res.headline("delivery_p50_ms") = res.e2e("latency_p50_ms")
    res.headline("delivery_p95_ms") = res.e2e("latency_p95_ms")

    Stats.phase("verify and read back")
    verify(spark, run.sink, truth, res)
    readback(spark, run.sink, res)

    if (a.trace) {
      Stats.phase("trace")
      val measured = ps.filter(p => startMs(p) >= t0)
      phases(run, measured, res)
      // backlog: segments written but not yet admitted when a batch ends
      val backlog = measured.map { p =>
        val admitted = offsetCounts(p.sources.head.endOffset).values.sum
        val endAt = startMs(p) + duration(p, "triggerExecution").toLong
        (written.count(_ <= endAt) + 1 - admitted).toDouble
      }
      res.layers("sources.backlog_segments_max") = if (backlog.isEmpty) 0.0 else backlog.max
      res.layers("sources.backlog_segments_end") = backlog.lastOption.getOrElse(0.0)
      // lag: how long the oldest segment a batch admits had been due
      val lag = measured.flatMap { p =>
        val first = offsetCounts(p.sources.head.startOffset).values.sum
        if (first >= 1 && first <= k) Some((startMs(p) - due(first - 1)).toDouble) else None
      }
      res.layers("sources.lag_ms") = if (lag.isEmpty) 0.0 else Stats.median(lag)
      writeSide(run.sink, ps.size, truth.validEvents, measured.map(admittedBytes(run.ledger, _)), res)
      // tracing overhead: delivery of the segments whose batch ran wholly
      // with the listener against those whose batch ran wholly without it
      val (onAt, offAt) = onSpan
      val startOf = ps.map(p => p.batchId -> startMs(p)).toMap
      def deliveryWhere(f: (Long, Long) => Boolean): Seq[Double] = (firstMeasured to k).flatMap { s =>
        for (b <- batchOf(s); st <- startOf.get(b); m <- run.marks.markerOf(b) if f(st, m))
          yield (m - due(s - 1)).toDouble
      }
      val traced = deliveryWhere((st, m) => st >= onAt && m < offAt)
      val untraced = deliveryWhere((st, m) => m < onAt || st >= offAt)
      res.report("overhead_samples") = Map("traced" -> traced.size, "untraced" -> untraced.size)
      if (traced.nonEmpty && untraced.nonEmpty)
        res.layers("trace.overhead_latency_p50_pct") =
          Stats.pctOver(Stats.median(traced), Stats.median(untraced))
      // engine counters of the batches that ran wholly with the listener
      val onBatches = measured.filter(p => startMs(p) >= onAt &&
        run.marks.markerOf(p.batchId).exists(_ < offAt))
      if (onBatches.nonEmpty) {
        res.spanBatches = onBatches.size
        res.spanWindow = (onBatches.map(startMs).min,
          onBatches.flatMap(p => run.marks.markerOf(p.batchId)).max + 1)
      }
      poisonLine(spark, root, res)
      Stats.phase("prefix microbench")
      // prefix microbench on a fixed 10k-line employees slice
      val slice = root.resolve("slice")
      val sl = new Ledger(a.seed * 31 + 17)
      val st = new Truth
      (0 until 2).foreach(i => Ledger.writeSegment(slice, Db, "employees",
        Ledger.segmentName(i), (1 to 5000).map(_ => sl.employee(st))))
      prefixBench(spark, slice, st.lines, root.resolve("slice_sink"), res)
    }
  }

  /** Backfill ledger shape: the reference's daily mix, attendance :
    * employee : leave : org = 50,000 : 1,000 : 500 : 100, with the employee
    * share split 800 `employees` + 200 `salary_changes`.
    */
  val DailyMix: Seq[(String, Int)] = Seq("attendance_records" -> 50000,
    "employees" -> 800, "salary_changes" -> 200, "leave_requests" -> 500,
    "departments" -> 100)
  /** The drained ledger is an eighth of a day: one batch of ~6.5k lines
    * whose long attendance notes make it admit more than
    * `DirectWriteMaxBytes`, so it takes the exchange write path and,
    * holding five tables, the multi-table persist path.
    */
  val DrainScale = 0.125
  val NotesChars = 5000
  val LinesPerSegment = 10000
  val InvalidRate = 0.01
  val DuplicateRate = 0.02

  /** Writes `scale` × the daily mix as segments; returns the file count. */
  def writeMix(ledger: Path, led: Ledger, t: Truth, scale: Double): Int =
    DailyMix.map { case (table, n) =>
      val lines = (1 to math.max(1, (n * scale).round.toInt)).map { _ =>
        table match {
          case "attendance_records" => led.attendance(t, InvalidRate, NotesChars)
          case "employees" => led.employee(t, InvalidRate)
          case "salary_changes" => led.salaryChange(t, InvalidRate)
          case "leave_requests" => led.leave(t, InvalidRate)
          case _ => led.org(t, InvalidRate)
        }
      }
      lines.grouped(LinesPerSegment).zipWithIndex.map { case (seg, i) =>
        Ledger.writeSegment(ledger, Db, table, Ledger.segmentName(i),
          led.withDuplicates(seg, t, DuplicateRate))
      }.size
    }.sum

  /** `backfill_analytics`: a closed-loop drain of a preloaded ledger with
    * the five maintenance hooks, one consumer read of the publish tree,
    * then the analytics and fixpoint queries.
    */
  def backfill(spark: SparkSession, a: Args, root: Path,
               counters: Option[Counters], res: Result): Unit = {
    // set-ups time a bare pipeline start on a one-segment ledger to its
    // first marker; the drain then starts with cold hooks, as a backfill
    // job in a fresh process does
    val (last, _, _) = setups(spark, root, res, (i, dir) => {
      val led = new Ledger(a.seed * 31 + i)
      val t = new Truth
      Ledger.writeSegment(dir.resolve("ledger"), Db, "employees", Ledger.segmentName(0),
        (1 to 20).map(_ => led.employee(t)))
      (start(spark, dir, Trigger.AvailableNow(), None, _ => Nil), led, t)
    })
    last.q.awaitTermination(60000L)

    Stats.phase("drain")
    val dir = root.resolve("drain")
    val truth = new Truth
    val (files, genS) = Stats.timed(
      writeMix(dir.resolve("ledger"), new Ledger(a.seed * 31 + 101), truth, DrainScale))
    res.report("ledger_gen_s") = genS
    res.report("ledger_lines") = truth.lines
    counters.foreach(_.on())
    val cpu0 = Host.cpuS
    val (run, drainS) = Stats.timed {
      val run = start(spark, dir, Trigger.AvailableNow(), Some(files),
        productionHooks(dir.resolve("state"), "drain"))
      if (!run.q.awaitTermination(150000L)) res.fail("drain did not finish")
      run
    }
    val drainCpu = Host.cpuS - cpu0
    counters.foreach(_.off())
    run.q.exception.foreach(e => res.fail("stream failed: " + e.getMessage))
    val ps = run.progress
    res.attempted += 1
    if (ps.size != 1) res.fail(s"${ps.size} batches for one admission")
    val stored = truth.validEvents
    res.e2e("throughput_per_s") = stored / drainS
    res.headline("drain_events_per_s") = stored / drainS
    res.report("drain_s") = drainS
    res.report("batch_ms") = ps.map(duration(_, "triggerExecution"))

    Stats.phase("verify and read back")
    verify(spark, run.sink, truth, res)
    readback(spark, run.sink, res)

    res.e2e("cpu_s") = drainCpu + QueryWorkloads.run(spark, a, counters, res)

    if (a.trace) {
      Stats.phase("trace")
      phases(run, ps, res)
      writeSide(run.sink, ps.size, stored, ps.map(admittedBytes(run.ledger, _)), res)
      maintenance(run.marks, ps.map(_.batchId).toSet, res)
      res.spanBatches = ps.size
      res.spanWindow = (run.startedMs, run.startedMs + (drainS * 1000).toLong + 1)
      poisonLine(spark, root, res)
      Stats.phase("prefix microbench")
      val slice = root.resolve("slice")
      val st = new Truth
      writeMix(slice, new Ledger(a.seed * 31 + 17), st, 0.05)
      prefixBench(spark, slice, st.lines, root.resolve("slice_sink"), res)
    }
  }

  private def poisonLine(spark: SparkSession, root: Path, res: Result): Unit = {
    Stats.phase("poison line")
    val drains = poisonLineDrains(spark, root.resolve("poison"))
    res.report("poison_line_drains") = drains
    res.layers("cdc.poison_line_drains") = if (drains) 1.0 else 0.0
  }

  /** Bytes of the ledger segments a batch admitted. */
  private def admittedBytes(ledger: Path, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long = {
    val from = offsetCounts(p.sources.head.startOffset)
    offsetCounts(p.sources.head.endOffset).toSeq.map { case (key, to) =>
      Option(ledger.resolve(key).toFile.listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName)
        .slice(from.getOrElse(key, 0), to).map(_.length()).sum
    }.sum
  }
}
