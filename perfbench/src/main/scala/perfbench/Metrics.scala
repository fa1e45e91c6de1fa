package perfbench

import Main.OpRun

/** Turns the operation records of one run into metrics. End-to-end metrics
  * come from untraced passes, per-layer metrics from traced passes (medians
  * over passes, so one slow pass does not move them).
  */
final class Metrics(cores: Int, runs: Seq[OpRun],
                    passes: Seq[(Int, Boolean, Double)], log: JobLog, chain: Option[Chain]) {
  type M = (String, Double, String)
  private val Phases = Set("construct", "plan", "exec")
  private val Mb = 1024.0 * 1024.0

  private def median(xs: Seq[Double]): Double = Stats.median(xs)
  private val plain = passes.filterNot(_._2)
  private val traced = passes.filter(_._2)
  private def latencies = runs.filterNot(_.traced).map(_.total / 1e9)

  /** The tail percentile: the highest of 99/95/90/75/50 with at least ten
    * samples beyond it.
    */
  def tail(n: Int): Double = Seq(0.99, 0.95, 0.9, 0.75, 0.5)
    .find(p => n - math.ceil(p * n) >= 10).getOrElse(0.5)

  private def raw(setupS: Double): Seq[M] = {
    val lat = latencies
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(plain.map(_._3)), "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", Stats.percentile(lat, tail(lat.size)), "s"))
  }

  /** The end-to-end times at the reference host speed: each measured time
    * scaled by [[Metrics.ProbeRefS]] over this run's host probe. The host's
    * speed drifts by a third within minutes; the probe, a fixed Spark job
    * that runs no repository code, drifts with it.
    */
  def endToEnd(setupS: Double, probeS: Double): Seq[M] =
    raw(setupS).map { case (n, v, u) => (n, v * Metrics.ProbeRefS / probeS, u) }

  /** Printed and stored beside the metrics; not bounded. */
  def endToEndNotes(setupS: Double): Seq[M] = {
    val lat = latencies
    raw(setupS).map { case (n, v, u) => (s"measured.$n", v, u) } ++
    Seq(("op_samples", lat.size.toDouble, "count"),
      ("op_tail_percentile", tail(lat.size) * 100, "pct"),
      ("passes", plain.size.toDouble, "count")) ++
      chain.flatMap(_.lastSend).map(s => ("mails_per_s", s.messages / median(plain.map(_._3)), "1/s"))
  }

  private def perPass(f: (Seq[OpRun], Seq[JobLog.Job], Seq[JobLog.Stage], Double) => Double): Double =
    median(traced.map { case (p, _, wall) =>
      val pre = s"$p/"
      f(runs.filter(_.pass == p),
        log.allJobs.filter(j => j.op.startsWith(pre) && Phases(j.phase)),
        log.allStages.filter(s => s.op.startsWith(pre) && Phases(s.phase)), wall)
    })

  /** Per-layer metrics every workload has; these go into the result line.
    * The resident-set peak is here, not end to end: it varies by more than
    * a tenth between runs of the same workload.
    */
  def perLayer(peakRssMb: Double): Seq[M] = {
    def secs(f: OpRun => Long) = perPass((r, _, _, _) => r.map(f).sum / 1e9)
    Seq(
      ("sources.schema_jobs", perPass((_, j, _, _) => j.count(_.schema).toDouble), "count"),
      ("sources.schema_s", perPass((_, j, _, _) =>
        j.filter(_.schema).map(x => math.max(0L, x.end - x.start)).sum / 1e3), "s"),
      ("sources.scan_mb", perPass((_, _, s, _) => s.map(_.inputBytes).sum / Mb), "MB"),
      ("queries.construct_s", secs(_.construct), "s"),
      ("queries.plan_s", secs(_.plan), "s"),
      ("queries.exec_s", secs(_.exec), "s"),
      ("queries.jobs", perPass((_, j, _, _) => j.size.toDouble), "count"),
      ("queries.tasks", perPass((_, _, s, _) => s.map(_.tasks).sum.toDouble), "count"),
      ("queries.task_cpu_s", perPass((_, _, s, _) => s.map(_.cpuNs).sum / 1e9), "s"),
      ("queries.gc_s", perPass((_, _, s, _) => s.map(_.gcMs).sum / 1e3), "s"),
      ("queries.shuffle_write_mb", perPass((_, _, s, _) => s.map(_.shuffleWrite).sum / Mb), "MB"),
      ("queries.shuffle_read_mb", perPass((_, _, s, _) => s.map(_.shuffleRead).sum / Mb), "MB"),
      ("queries.spill_mb", perPass((_, _, s, _) => s.map(_.spill).sum / Mb), "MB"),
      ("queries.core_busy_ratio", perPass((_, _, s, wall) => s.map(_.runMs).sum / 1e3 / (wall * cores)), "ratio"),
      ("operators.construct_jobs", perPass((_, j, _, _) => j.count(_.phase == "construct").toDouble), "count"),
      ("operators.pinned_blocks_peak", runs.filter(_.traced).map(_.pinnedBlocks.toDouble).maxOption.getOrElse(0.0), "count"),
      ("operators.pinned_mb_peak", runs.filter(_.traced).map(_.pinnedBytes / Mb).maxOption.getOrElse(0.0), "MB"),
      ("trace.overhead_ratio", median(traced.map(_._3)) / median(plain.map(_._3)), "ratio"),
      ("peak_rss_mb", peakRssMb, "MB"))
  }

  /** Layer metrics that exist only on some workloads: the chain's etl and
    * send spans, and the per-module rollup of the query workloads.
    */
  def traceNotes(): Seq[M] = {
    def span(name: String) = perPass((r, _, _, _) => r.filter(_.span == name).map(_.total).sum / 1e9)
    val etl = Seq("read", "validate", "normalize", "csv_sink", "mail_source", "render", "enrol_plan")
    val chainNotes = chain.toSeq.flatMap { c =>
      etl.map(n => (s"etl.${n}_s", span(s"etl.$n"), "s")) ++
        Seq(("send.sink_s", span("send.sink"), "s"), ("send.api_sink_s", span("send.api_sink"), "s")) ++
        c.lastSend.toSeq.flatMap(s => Seq(
          ("send.attempts_per_message", s.attempts.toDouble / s.messages, "ratio"),
          ("send.ledger_skipped", s.skipped.toDouble, "count"))) ++
        (for (s <- c.lastSend; u <- c.lastUpload) yield
          ("send.backoff_ms_requested", (s.backoffMs + u.backoffMs).toDouble, "ms")).toSeq ++
        c.lastUpload.toSeq.map(u => ("send.api_calls_per_action", u.calls.toDouble / u.actions, "ratio"))
    }
    val modules = runs.filter(r => r.traced && r.module.nonEmpty).map(_.module).distinct.sorted
    val moduleNotes = modules.map(m => (s"queries.module.${m}_s",
      perPass((r, _, _, _) => r.filter(_.module == m).map(_.total).sum / 1e9), "s"))
    chainNotes ++ moduleNotes ++ Seq(("traced_passes", traced.size.toDouble, "count"))
  }
}

object Metrics {
  /** Host probe time the end-to-end metrics are scaled to: its median on
    * the 4-core host the benchmark was defined on, over quiet and busy
    * spells (0.096–0.142 s).
    */
  val ProbeRefS = 0.125
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

/** The process's resident-set high-water mark (`VmHWM`). */
object Rss {
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
