package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** The analytics half of `backfill_analytics`: queries of
  * `graft.SparkEntry.queries` over the fixed sf0.01 tables under `data/`.
  * Each pass runs every query once and collects its output.
  */
object QueryWorkloads {
  /** Event-store analytics: the flagship pipeline query and an SCD type-2
    * history, of the 27 declared `cdc_*` queries. (The batch-mode state
    * writers run as the drain's maintenance hooks.)
    */
  val Analytics: Seq[String] = Seq("cdc_full_pipeline", "cdc_scd2_history")

  /** Iterative-operator queries: the fixpoint loops of k-core peeling and
    * of connected components under near-duplicate clustering.
    */
  val Fixpoint: Seq[String] = Seq("q34_kcore", "doc_dedup_keep")

  val All: Seq[String] = Analytics ++ Fixpoint

  /** Order-insensitive output hash: columns in name order, each row
    * rendered (doubles to 12 significant digits), rows sorted, SHA-256.
    */
  def outputHash(columns: Seq[String], rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else
        new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
      case f: Float => render(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
      case x => x.toString
    }
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString + s":${lines.length}"
  }

  private def readHashes(a: Args): Map[String, String] =
    if (!Files.exists(a.hashes)) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(a.hashes.toFile)
      import scala.jdk.CollectionConverters._
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  /** One query's timed execution: wall and process CPU seconds, its window
    * (epoch ms) for charging listener jobs, and whether the listener was on.
    */
  final case class Timing(s: Double, cpuS: Double, from: Long, to: Long, traced: Boolean)

  /** One untimed warm pass, then timed passes for `a.seconds` from the
    * start of the first timed pass, at least one. A traced run needs two and
    * attaches the listener for every other query, alternating between
    * passes, so each query runs with and without it in either order. Every
    * output is hashed and checked after its timer stops, also in the warm
    * pass. Returns the median process CPU seconds of a timed pass.
    */
  def run(spark: SparkSession, a: Args, counters: Option[Counters], res: Result): Double = {
    val dir = a.data.toAbsolutePath.toString
    val entry = graft.SparkEntry.queries
    val recorded = readHashes(a)

    // a fixed order, so the same query pays the pass's first-use costs
    def pass(n: Int): Map[String, Timing] = All.zipWithIndex.flatMap { case (q, i) =>
      res.attempted += 1
      val traced = counters.isDefined && (n + i) % 2 == 0
      counters.foreach(c => if (traced) c.on() else c.off())
      try {
        val from = Stats.now()
        val cpu0 = Host.cpuS
        val ((columns, rows), s) = Stats.timed {
          val df = entry(q)(spark, dir)
          (df.columns.toSeq, df.collect())
        }
        val t = Timing(s, Host.cpuS - cpu0, from, Stats.now() + 1, traced)
        val h = outputHash(columns, rows)
        if (!recorded.get(q).contains(h))
          res.fail(s"$q: output hash $h, recorded ${recorded.getOrElse(q, "none")}")
        Some(q -> t)
      } catch { case e: Exception => res.fail(s"$q threw: $e"); None }
    }.toMap

    Stats.phase("queries: warm pass")
    pass(0)
    Stats.phase("queries: timed passes")
    val passes = mutable.ArrayBuffer.empty[Map[String, Timing]]
    val minPasses = if (counters.isDefined) 2 else 1
    val end = Stats.now() + a.seconds * 1000L
    while (passes.size < minPasses || Stats.now() < end) passes += pass(passes.size)
    counters.foreach(_.off())

    /** Median seconds of one query over the timings that pass `keep`. */
    def median(q: String, keep: Timing => Boolean = _ => true): Option[Double] =
      passes.flatMap(_.get(q)).filter(keep).map(_.s).toSeq match {
        case Seq() => None
        case xs => Some(Stats.median(xs))
      }
    val medians = All.flatMap(median(_))
    res.e2e("latency_p50_ms") = Stats.quantile(medians, 0.5) * 1000
    res.e2e("latency_p95_ms") = Stats.quantile(medians, 0.95) * 1000
    val cpuS = Stats.median(passes.map(_.values.map(_.cpuS).sum).toSeq)
    res.report("query_cpu_s") = cpuS
    res.headline("query_total_s") = Stats.median(passes.map(_.values.map(_.s).sum).toSeq)
    res.report("query_passes") = passes.size
    res.report("query_pass_totals_s") = passes.map(_.values.map(_.s).sum)

    counters.foreach { c =>
      All.foreach { q =>
        val on = passes.flatMap(_.get(q)).filter(_.traced).toSeq
        if (on.nonEmpty) {
          res.layers(s"query.$q.s") = Stats.median(on.map(_.s))
          res.layers(s"query.$q.jobs") = Stats.median(on.map(t => c.window(t.from, t.to).jobs.toDouble))
        }
      }
      // per query, traced against untraced time; the median over queries
      val ratios = All.flatMap(q => for (on <- median(q, _.traced); off <- median(q, !_.traced))
        yield Stats.pctOver(on, off))
      if (ratios.nonEmpty) res.layers("trace.overhead_latency_p50_pct") = Stats.median(ratios)
    }
    cpuS
  }
}
