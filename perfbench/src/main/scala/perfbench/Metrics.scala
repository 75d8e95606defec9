package perfbench

/** One reported metric: its value, unit, how many samples it summarizes
  * and which statistic of them it is. */
final case class Metric(value: Double, unit: String, n: Long, stat: String)

/** The full metric catalogue. Every workload reports every metric; a layer
  * a workload bypasses reports 0 with n = 0. [[compute]] is total on an
  * empty [[Record]], which is how names are checked against
  * BENCHMARK.json before any timed work. */
object Metrics {
  /** The curation set, in catalogue order. */
  val Queries: Seq[String] = Seq("q26_minhash_lsh", "q96_leakage_safe_split",
    "q43_dedup_clusters", "q144_sampled_clusters", "q25_near_dup_jaccard",
    "q141_sampled_minhash", "q78_nb_classifier", "q105_snapshot_diff")

  /** Span-derived totals Main stores in the record: `span:<name>.<what>`. */
  def spanKey(name: String, what: String): String = s"span:$name.$what"

  private type Def = (String, String, Record => Metric)

  private def p(stream: String, q: Double, unit: String = "ms")(r: Record) = {
    val xs = r.get(stream)
    Metric(Stats.pct(xs, q), unit, xs.size, s"p${(q * 100).round}")
  }
  private def mx(stream: String)(r: Record) = {
    val xs = r.get(stream)
    Metric(if (xs.isEmpty) 0.0 else xs.max, "ms", xs.size, "max")
  }
  private def v(key: String, unit: String, stat: String = "value")(r: Record) =
    Metric(r.value(key), unit, 1, stat)
  private def ratio(num: Record => Double, den: Record => Double,
      unit: String, stat: String)(r: Record) = {
    val d = den(r)
    Metric(if (d > 0) num(r) / d else 0.0, unit, 1, stat)
  }
  /** Mean of a span-derived total over the `per` spans' call count. */
  private def perCall(names: Seq[String], what: String, per: String,
      unit: String)(r: Record) = {
    val n = calls(per)(r)
    Metric(if (n > 0) jobs(names, what)(r) / n else 0.0, unit, n.toLong,
      "mean per call")
  }
  private def jobs(names: Seq[String], what: String)(r: Record): Double =
    names.map(n => r.value(spanKey(n, what))).sum
  private def calls(name: String)(r: Record): Double =
    r.value(spanKey(name, "count"))
  private val readSpans = Seq("read.construct", "read.plan", "read.exec")

  /** Timings summarize over samples; a stream with no samples is 0. */
  private def orZero(m: Metric): Metric =
    if (m.value.isNaN) m.copy(value = 0.0) else m

  /** Medians only: a run holds 1-30 samples per stream, too few for a
    * tail percentile with ten samples beyond it. The p90s are per-layer.
    * What a `query` and a `write` sample is depends on the workload. */
  val endToEnd: Seq[Def] = Seq(
    ("setup_s", "s", r => Metric(r.value("setup_s"), "s", 1,
      "session + median repeated set-up + warm-up")),
    ("query_ms", "ms", p("query", 0.5)),
    ("write_ms", "ms", p("write", 0.5)))

  val perLayer: Seq[Def] = Seq[Def](
    ("fail_ratio", "ratio", r => Metric(
      if (r.attempted > 0) r.failed.size.toDouble / r.attempted else 0.0,
      "ratio", r.attempted, "failed/attempted")),
    ("query.n", "count", r => Metric(r.get("query").size, "count", 1, "count")),
    ("write.n", "count", r => Metric(r.get("write").size, "count", 1, "count")),
    ("traced.query_ms", "ms", p("query", 0.5)),
    ("traced.query_p90_ms", "ms", p("query", 0.9)),
    ("traced.write_ms", "ms", p("write", 0.5)),
    ("traced.write_p90_ms", "ms", p("write", 0.9)),
    ("traced.setup_s", "s", v("setup_s", "s")),
    ("setup.session_ms", "ms", v("setup.session_ms", "ms")),
    ("setup.data_ms", "ms", p("setup.data", 0.5)),
    ("setup.warmup_ms", "ms", v("setup.warmup_ms", "ms")),
    ("exec.jobs", "count", v("exec.jobs", "count", "sum")),
    ("exec.tasks", "count", v("exec.tasks", "count", "sum")),
    ("exec.shuffle_bytes", "bytes", v("exec.shuffle_bytes", "bytes", "sum")),
    ("exec.spill_bytes", "bytes", v("exec.spill_bytes", "bytes", "sum")),
    ("jvm.gc_ms", "ms", v("jvm.gc_ms", "ms", "sum")),
    ("jvm.jit_ms", "ms", v("jvm.jit_ms", "ms", "sum")),
    ("host.cpu_steal_ratio", "ratio",
      v("host.cpu_steal_ratio", "ratio", "steal / all CPU time")),
    // sources.GraftTable read path
    ("read.construct_ms.p50", "ms", p("read.construct", 0.5)),
    ("read.plan_ms.p50", "ms", p("read.plan", 0.5)),
    ("read.exec_ms.p50", "ms", p("read.exec", 0.5)),
    ("read.jobs.mean", "count", perCall(readSpans, "jobs", "read.exec", "count")),
    ("read.tasks.mean", "count",
      perCall(readSpans, "tasks", "read.exec", "count")),
    ("read.input_bytes.mean", "bytes",
      perCall(readSpans, "inputBytes", "read.exec", "bytes")),
    ("read.rows_scanned_per_row", "ratio", ratio(
      jobs(readSpans, "inputRecords"), _.value("read.result_rows"), "ratio",
      "input records / rows read")),
    ("table.visible_versions", "count",
      v("table.visible_versions", "count", "at end of run")),
    // sources.GraftTable write path and maintenance
    ("table.sweep_ms.p50", "ms", p("table.sweep", 0.5)),
    ("table.sweep_ms.max", "ms", mx("table.sweep")),
    ("table.sweep_ranges", "count", v("table.sweep_ranges", "count", "sum")),
    ("table.bytes_written", "bytes",
      v("table.bytes_written", "bytes", "sum")),
    ("table.write_amp", "ratio", ratio(_.value("table.bytes_written"),
      _.value("input_bytes"), "ratio", "bytes written / input bytes")),
    // sources.HotTier
    ("hot_tier.builds", "count", v("hot_tier.builds", "count")),
    ("hot_tier.hot_served", "count", v("hot_tier.hot_served", "count")),
    ("hot_tier.cold_served", "count", v("hot_tier.cold_served", "count")),
    ("hot_tier.wasted_builds", "count", v("hot_tier.wasted_builds", "count")),
    ("hot_tier.suppressions", "count", v("hot_tier.suppressions", "count")),
    ("hot_tier.hit_ratio", "ratio", ratio(_.value("hot_tier.hot_served"),
      r => r.value("hot_tier.hot_served") + r.value("hot_tier.cold_served"),
      "ratio", "hot / (hot + cold)")),
    // sources.ScanGate
    ("scan_gate.gated", "count", v("scan_gate.gated", "count")),
    ("scan_gate.throttled", "count", v("scan_gate.throttled", "count")),
    ("scan_gate.released_by_work", "count",
      v("scan_gate.released_by_work", "count")),
    // streaming.StreamingIngest
    ("stream.batches", "count", r => Metric(r.get("stream.batch").size,
      "count", 1, "count")),
    ("stream.batch_ms.p50", "ms", p("stream.batch", 0.5)),
    ("stream.batch_ms.max", "ms", mx("stream.batch")),
    ("stream.rows_per_batch", "rows", r => { val xs = r.get("stream.rows")
      Metric(Stats.mean(xs), "rows", xs.size, "mean") }),
    ("backfill_rows_per_s", "rows/s",
      v("backfill_rows_per_s", "rows/s", "rows / stream wall time")),
    ("window_hot_ms", "ms", p("window_hot", 0.5)),
    ("window_cold_ms", "ms", p("window_cold", 0.5)),
    ("space_amp", "ratio", ratio(_.value("table.bytes_on_disk"),
      _.value("input_bytes"), "ratio", "table bytes / input bytes")),
    // queries + operators (the curation set)
    ("batch_s", "s", r => { val xs = r.get("batch")
      Metric(Stats.median(xs), "s", xs.size, "p50") })) ++
    Queries.flatMap(q => Seq[Def](
      (s"$q.construct_ms", "ms", p(s"$q.construct", 0.5)),
      (s"$q.construct_jobs", "count",
        perCall(Seq(s"$q.construct"), "jobs", s"$q.construct", "count")),
      (s"$q.plan_ms", "ms", p(s"$q.plan", 0.5)),
      (s"$q.action_ms", "ms", p(s"$q.action", 0.5)),
      (s"$q.action_jobs", "count",
        perCall(Seq(s"$q.action"), "jobs", s"$q.action", "count"))))

  /** End-to-end metrics keep NaN (no samples is a failed run); per-layer
    * metrics of a bypassed layer read 0. */
  def compute(r: Record): (Map[String, Metric], Map[String, Metric]) =
    (endToEnd.map { case (n, _, f) => n -> f(r) }.toMap,
      perLayer.map { case (n, _, f) => n -> orZero(f(r)) }.toMap)

  def units: Map[String, String] =
    (endToEnd ++ perLayer).map { case (n, u, _) => n -> u }.toMap
}
