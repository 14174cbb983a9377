package perfbench

/** Per-layer metrics of a traced run. Every name in [[Names]] is reported
  * for every workload (0 where the workload does not enter the layer), so
  * runs of different workloads line up. Pass-level numbers are medians over
  * the traced measured passes.
  */
object Layers {
  val ApiFamilies: Seq[String] = Seq("splits", "trainingLoad", "physiology",
    "trends", "comparisons", "durability", "heat", "timeSeries")

  val Names: Seq[(String, String)] =
    Seq("app_cpu_s" -> "s", "pass_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
      "session.build_s" -> "s", "setup.first_pass_s" -> "s",
      "setup.last_settle_pass_s" -> "s", "q.build_ms" -> "ms",
      "caches.frames" -> "count", "caches.mb" -> "MB", "caches.cold_s" -> "s",
      "cached_mb" -> "MB") ++
    QuerySuite.Families.map { case (f, _) => s"op.$f.s" -> "s" } ++
    Seq("sched.jobs" -> "count", "sched.jobs_first_pass" -> "count",
      "sched.stages" -> "count", "sched.tasks" -> "count",
      "sched.job_busy_s" -> "s", "sched.driver_gap_s" -> "s",
      "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "shuffle.write_mb" -> "MB",
      "shuffle.read_mb" -> "MB", "spill.disk_mb" -> "MB", "scan.input_mb" -> "MB",
      "plan.exchanges" -> "count",
      "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
      "codegen.compiles_first_pass" -> "count", "codegen.compile_ms_first_pass" -> "ms",
      "codegen.compiles_measured" -> "count", "jvm.jit_ms" -> "ms",
      "jvm.jit_ms_first_pass" -> "ms", "jvm.jit_ms_measured_pass" -> "ms",
      "jvm.gc_s" -> "s", "jvm.rss_peak_mb" -> "MB") ++
    ApiFamilies.map(f => s"api.$f.p50_ms" -> "ms") ++
    Seq("api.jobs_per_call" -> "count", "api.files_listed_per_call" -> "count",
      "api.driver_ms" -> "ms", "sources.bronze_mb_read" -> "MB", "sources.read_ms" -> "ms") ++
    Ingest.SilverTableNames.map(t => s"ingest.write_s.$t" -> "s") ++
    Seq("ingest.files_written" -> "count", "ingest.bytes_written" -> "MB",
      "streaming.catchup_s" -> "s", "rows_per_s" -> "rows/s",
      "fresh_ms" -> "ms", "space_amp" -> "ratio",
      "trace.traced_pass_s" -> "s",
      "trace.overhead_pct" -> "%")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(r: Runner, l: JobListener, measured: Seq[PassRec], extras: Map[String, (Double, String)],
      sessionS: Double, c0: Counters, c1: Counters, c2: Counters): Seq[(String, Double, String)] = {
    val groups = l.snapshot
    val traced = measured.filter(_.traced)
    val spans = r.tr.all
    def aggs(phase: String, p: Int) = groups.filter(_._1.startsWith(s"pb:$phase:$p:")).values.toSeq
    def perPass(f: (PassRec, Seq[JobListener#Agg]) => Double): Double =
      med(traced.map(m => f(m, aggs(m.phase, m.pass))))
    def busyS(as: Seq[JobListener#Agg]): Double = Stats.unionLength(as.flatMap(_.intervals)) / 1e3
    def inPass(m: PassRec, name: String) = spans.filter(s =>
      s.name == name && s.group.startsWith(s"pb:${m.phase}:${m.pass}:"))
    def spanMed(name: String) = med(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9))

    val setupPasses = r.setupPasses.toSeq
    val first = setupPasses.headOption
    val lastSettle = setupPasses.filter(_.phase == "settle").lastOption
    val apiOps = traced.flatMap(_.ops).filter(o => ApiFamilies.contains(o.family))
    val ingestOps = (setupPasses ++ traced).flatMap(_.ops).filter(_.family == "ingest")
    val setup = c1 - c0
    val measuredCounters = c2 - c1
    val untracedS = med(measured.filterNot(_.traced).map(_.wallNs / 1e9))
    val tracedS = med(traced.map(_.wallNs / 1e9))

    val values: Map[String, Double] = Map(
      "session.build_s" -> sessionS,
      "setup.first_pass_s" -> first.fold(0.0)(_.wallNs / 1e9),
      "setup.last_settle_pass_s" -> lastSettle.fold(0.0)(_.wallNs / 1e9),
      "q.build_ms" -> med(traced.flatMap(m => inPass(m, "q.build")).map(s => (s.endNs - s.startNs) / 1e6)),
      "sched.jobs" -> perPass((_, as) => as.map(_.jobs).sum),
      "sched.jobs_first_pass" -> first.fold(0.0)(f => aggs(f.phase, f.pass).map(_.jobs).sum),
      "sched.stages" -> perPass((_, as) => as.map(_.stages).sum),
      "sched.tasks" -> perPass((_, as) => as.map(_.tasks).sum),
      "sched.job_busy_s" -> perPass((_, as) => busyS(as)),
      "sched.driver_gap_s" -> perPass((m, as) => m.wallNs / 1e9 - busyS(as)),
      "exec.cpu_s" -> perPass((_, as) => as.map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> perPass((_, as) => as.map(_.gcMs).sum / 1e3),
      "shuffle.write_mb" -> perPass((_, as) => as.map(_.shuffleWrite).sum / 1e6),
      "shuffle.read_mb" -> perPass((_, as) => as.map(_.shuffleRead).sum / 1e6),
      "spill.disk_mb" -> perPass((_, as) => as.map(_.spill).sum / 1e6),
      "scan.input_mb" -> perPass((_, as) => as.map(_.input).sum / 1e6),
      "plan.exchanges" -> perPass((_, as) => as.map(_.exchanges).sum),
      "codegen.compiles" -> setup.compiles.toDouble,
      "codegen.compile_ms" -> setup.compileMs,
      "codegen.compiles_first_pass" -> first.fold(0.0)(_.delta.compiles.toDouble),
      "codegen.compile_ms_first_pass" -> first.fold(0.0)(_.delta.compileMs),
      "codegen.compiles_measured" -> measuredCounters.compiles.toDouble,
      "jvm.jit_ms_first_pass" -> first.fold(0.0)(_.delta.jitMs.toDouble),
      "jvm.jit_ms_measured_pass" -> med(measured.map(_.delta.jitMs.toDouble)),
      "jvm.jit_ms" -> setup.jitMs.toDouble,
      "jvm.gc_s" -> setup.gcMs / 1e3,
      "jvm.rss_peak_mb" -> Counters.rssPeakMb(),
      "trace.traced_pass_s" -> tracedS,
      "trace.overhead_pct" -> (if (untracedS > 0) (tracedS / untracedS - 1) * 100 else 0.0)
    ) ++ QuerySuite.Families.map { case (f, _) =>
      s"op.$f.s" -> perPass((m, _) => m.ops.filter(_.family == f).map(_.wallNs).sum / 1e9)
    } ++ ApiFamilies.map { f =>
      s"api.$f.p50_ms" -> med(apiOps.filter(_.family == f).map(_.wallNs / 1e6))
    } ++ (if (apiOps.isEmpty) Nil else {
      val calls = apiOps.length.toDouble / traced.length
      Seq("api.jobs_per_call" -> perPass((_, as) => as.map(_.jobs).sum / calls),
        "api.files_listed_per_call" -> med(traced.map(_.delta.filesDiscovered / calls)),
        "api.driver_ms" -> med(apiOps.map { o =>
          o.wallNs / 1e6 - busyS(groups.get(o.group).toSeq) * 1e3 }))
    }) ++ (if (ingestOps.isEmpty) Nil else {
      Seq("sources.bronze_mb_read" -> med(ingestOps.map(o =>
          groups.get(o.group).fold(0.0)(_.input / 1e6))),
        "sources.read_ms" -> spans.filter(_.kind == "sources").map(s => (s.endNs - s.startNs) / 1e6).sum,
        "streaming.catchup_s" -> spanMed("streaming.catchup_s")) ++
      Ingest.SilverTableNames.map(t => s"ingest.write_s.$t" -> spanMed(s"ingest.write_s.$t"))
    }) ++ extras.map { case (k, (v, _)) => k -> v }

    Names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
