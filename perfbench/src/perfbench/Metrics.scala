package perfbench

import Stats.{mean, median, pct}

/** Every metric the benchmark prints, with its unit. The final JSON line
  * of an untraced run holds exactly [[EndToEnd]]; of a traced run, exactly
  * [[PerLayer]]. `BENCHMARK.json` lists the same names. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "p50_s" -> "s",
    "index_space_ratio" -> "ratio",
    "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "query.prune.s" -> "s", "query.prune.jobs" -> "count",
    "query.files_read_frac" -> "ratio", "query.bytes_read_frac" -> "ratio",
    "query.fallback_files" -> "count", "query.file_precision" -> "ratio",
    "plans.s" -> "s", "plans.prune_ms" -> "ms",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.input_bytes" -> "bytes", "exec.input_rows" -> "count",
    "exec.row_precision" -> "ratio", "exec.shuffle_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "build.full.s" -> "s", "build.incr.s" -> "s", "build.compact.s" -> "s",
    "build.jobs" -> "count", "build.task_cpu_s" -> "s",
    "build.shuffle_bytes" -> "bytes", "build.spill_bytes" -> "bytes",
    "build.files_indexed" -> "count", "build.postings_rows" -> "count",
    "build.dead_rows" -> "count", "build.index_bytes" -> "bytes",
    "text.live.s" -> "s", "text.plan.s" -> "s", "text.exec.s" -> "s",
    "text.jobs" -> "count", "text.input_bytes" -> "bytes",
    "text.build.s" -> "s", "text.build.shuffle_bytes" -> "bytes", "text.build.spill_bytes" -> "bytes",
    "text.append.s" -> "s", "text.staleness" -> "ratio",
    "jvm.gc_s" -> "s",
    "baseline.fullscan_p50_s" -> "s", "baseline.index_gain" -> "ratio",
    "host.steal_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def endToEnd(run: Run): Map[String, Double] = {
    val l = run.latencies.toSeq
    Map(
      "setup_s" -> median(run.setupSeconds.toSeq),
      "p50_s" -> median(l),
      "index_space_ratio" -> run.values.getOrElse("index_space_ratio", 0.0),
      "heap_live_mb" -> run.values.getOrElse("heap_live_mb", 0.0))
  }

  /** Per-layer values from the spans of a traced run. Times are the
    * median self time per call; counts and bytes are means per call. A
    * layer the workload never calls reads 0. */
  def perLayer(run: Run): Map[String, Double] = {
    val tr = run.tracer
    val spans = tr.spans
    val self = tr.selfSeconds
    def of(names: String*): Seq[Span] = spans.filter(s => names.contains(s.name))
    def selfMedian(name: String): Double = median(of(name).map(s => self(s.id)))
    def perCall(names: String*)(f: Work => Double): Double = mean(of(names: _*).map(s => f(tr.work(s))))
    def perOp(names: String*)(f: Work => Double): Double =
      mean(of(names: _*).groupBy(_.op).values.map(_.map(s => f(tr.work(s))).sum).toSeq)
    def sampled(n: String): Seq[Double] = run.samples.get(n).map(_.toSeq).getOrElse(Nil)
    def sampleSum(n: String): Double = sampled(n).sum
    val builds = Seq("build.full", "build.incr", "build.compact")
    val fullscan = median(sampled("baseline.fullscan"))
    val untraced = median(run.latencies.toSeq)
    Map(
      "query.prune.s" -> selfMedian("query.prune"),
      "query.prune.jobs" -> perCall("query.prune")(_.jobs.toDouble),
      "query.files_read_frac" -> mean(sampled("query.files_read_frac")),
      "query.bytes_read_frac" -> mean(sampled("query.bytes_read_frac")),
      "query.fallback_files" -> mean(sampled("query.fallback_files")),
      "query.file_precision" -> ratio(sampleSum("query.files_hit"), sampleSum("query.files_read")),
      "plans.s" -> selfMedian("plans"),
      "plans.prune_ms" -> mean(sampled("plans.prune_ms")),
      "exec.s" -> selfMedian("exec"),
      "exec.jobs" -> perCall("exec")(_.jobs.toDouble),
      "exec.tasks" -> perCall("exec")(_.tasks.toDouble),
      "exec.task_run_s" -> perCall("exec")(_.taskRunMs / 1e3),
      "exec.task_cpu_s" -> perCall("exec")(_.taskCpuNs / 1e9),
      "exec.input_bytes" -> perCall("exec")(_.inputBytes.toDouble),
      "exec.input_rows" -> perCall("exec")(_.inputRows.toDouble),
      "exec.row_precision" -> ratio(sampleSum("exec.result_rows"),
        of("exec").map(s => tr.work(s).inputRows.toDouble).sum),
      "exec.shuffle_bytes" -> perCall("exec")(_.shuffleBytes.toDouble),
      "exec.spill_bytes" -> perCall("exec")(_.spillBytes.toDouble),
      "build.full.s" -> selfMedian("build.full"),
      "build.incr.s" -> selfMedian("build.incr"),
      "build.compact.s" -> selfMedian("build.compact"),
      "build.jobs" -> perCall(builds: _*)(_.jobs.toDouble),
      "build.task_cpu_s" -> perCall(builds: _*)(_.taskCpuNs / 1e9),
      "build.shuffle_bytes" -> perCall(builds: _*)(_.shuffleBytes.toDouble),
      "build.spill_bytes" -> perCall(builds: _*)(_.spillBytes.toDouble),
      "build.files_indexed" -> mean(sampled("build.files_indexed")),
      "build.postings_rows" -> run.values.getOrElse("build.postings_rows", 0.0),
      "build.dead_rows" -> mean(sampled("build.dead_rows")),
      "build.index_bytes" -> run.values.getOrElse("build.index_bytes", 0.0),
      "text.live.s" -> selfMedian("text.live"),
      "text.plan.s" -> selfMedian("text.plan"),
      "text.exec.s" -> selfMedian("text.exec"),
      "text.jobs" -> perOp("text.live", "text.plan", "text.exec")(_.jobs.toDouble),
      "text.input_bytes" -> perOp("text.live", "text.plan", "text.exec")(_.inputBytes.toDouble),
      "text.build.s" -> selfMedian("text.build"),
      "text.build.shuffle_bytes" -> perCall("text.build")(_.shuffleBytes.toDouble),
      "text.build.spill_bytes" -> perCall("text.build")(_.spillBytes.toDouble),
      "text.append.s" -> selfMedian("text.append"),
      "text.staleness" -> run.values.getOrElse("text.staleness", 0.0),
      "jvm.gc_s" -> run.gcSeconds,
      "baseline.fullscan_p50_s" -> fullscan,
      "baseline.index_gain" -> ratio(fullscan, untraced),
      "host.steal_frac" -> run.stealFrac,
      "trace.overhead_frac" -> (ratio(median(run.tracedLatencies.toSeq), untraced) - 1.0))
  }

  /** The issue-level names each workload's numbers answer to, for the
    * human-readable report: (name, value, unit, samples). */
  def report(workload: String, run: Run): Seq[(String, Double, String, Int)] = {
    val l = run.latencies.toSeq
    def lat(prefix: String, xs: Seq[Double]) =
      if (xs.isEmpty) Nil
      else Seq((s"${prefix}_p50_s", median(xs), "s", xs.size), (s"${prefix}_p90_s", pct(xs, 0.9), "s", xs.size))
    def s(n: String) = run.samples.get(n).map(_.toSeq).getOrElse(Nil)
    def med(name: String, n: String) = (name, median(s(n)), "s", s(n).size)
    val primary = workload match {
      case "lookup" => Seq(med("index_build_s", "index_build"), med("append_p50_s", "append"),
          med("compact_s", "compact")) ++ lat("lookup", l)
      case _ => Seq(("text_build_s", median(run.setupSeconds.toSeq), "s", run.setupSeconds.size)) ++
          lat("search", l) ++ Seq(med("append_p50_s", "append"))
    }
    val attempted = math.max(1L, run.attempted)
    Seq(("setup_s", median(run.setupSeconds.toSeq), "s", run.setupSeconds.size)) ++ primary ++ Seq(
      ("ops_per_s", ratio(l.size, l.sum), "1/s", l.size),
      ("error_rate", run.failures.size.toDouble / attempted, "ratio", attempted.toInt),
      ("index_space_ratio", run.values.getOrElse("index_space_ratio", 0.0), "ratio", 1),
      ("heap_live_mb", run.values.getOrElse("heap_live_mb", 0.0), "MB", 1),
      ("host.steal_frac", run.stealFrac, "ratio", 1))
  }
}
