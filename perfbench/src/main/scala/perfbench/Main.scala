package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One op of a pass: its wall time, whether it completed, and the value it
  * returned (checked after the measured passes, untimed).
  */
final case class OpRec(phase: String, pass: Int, idx: Int, name: String,
    family: String, wallNs: Long, ok: Boolean, result: Any, traced: Boolean,
    group: String, startNs: Long)

final case class PassRec(phase: String, pass: Int, wallNs: Long, traced: Boolean,
    ops: Seq[OpRec], delta: Counters)

/** What a workload gives the runner. `setup` runs everything before the
  * first measured op that the runner does not (generation, staging, cold
  * and settle passes). `pass` runs one pass of the workload's fixed op
  * sequence. `check` returns the failed output checks, `extras` the
  * workload's own metrics; both run untimed after the measured passes.
  */
trait Workload {
  /** Measured passes every run makes however long they take. The pass
    * metrics are taken over exactly these first passes, so they do not
    * depend on how many passes a host fits into `--seconds`, and the tail
    * percentile is the same in every run.
    */
  def minPasses: Int
  def setup(r: Runner): Unit
  def pass(r: Runner, phase: String, p: Int): PassRec
  def check(r: Runner, measured: Seq[PassRec]): Seq[String]
  def extras(r: Runner, measured: Seq[PassRec]): Map[String, (Double, String)]
}

/** Shared state of one benchmark process: the session, the seed, the work
  * directory and the tracing hooks.
  */
final class Runner(val spark: SparkSession, val seed: Long, val out: Path,
    val work: Path, val expectedDir: Path, val tr: Trace) {

  val setupPasses = ArrayBuffer.empty[PassRec]

  /** Run `body` as op `idx` of pass `p`, timed; a throw counts as failed. */
  def op(phase: String, p: Int, idx: Int, name: String, family: String)(body: => Any): OpRec = {
    val group = s"pb:$phase:$p:$idx"
    val sc = spark.sparkContext
    if (tr.active) { sc.setJobGroup(group, name, interruptOnCancel = false); tr.group = group }
    val t0 = System.nanoTime()
    val (ok, result) =
      try (true, tr.span(name, "op")(body))
      catch { case e: Throwable =>
        System.err.println(s"perfbench: op $name failed: $e")
        (false, null)
      }
    val wall = System.nanoTime() - t0
    if (tr.active) { sc.clearJobGroup(); tr.group = "" }
    OpRec(phase, p, idx, name, family, wall, ok, result, tr.active, group, t0)
  }

  def pass(phase: String, p: Int)(ops: => Seq[OpRec]): PassRec = {
    val c0 = Counters.now()
    val recs = tr.span(s"pass:$phase:$p", "pass")(ops)
    val d = Counters.now() - c0
    PassRec(phase, p, d.wallNs, tr.active, recs, d)
  }

  def seeded(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

object Main {
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)
  val Workloads: Map[String, () => Workload] = Map(
    "query_suite" -> (() => new QuerySuite),
    "api_serve" -> (() => new ApiServe))

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val out = Paths.get(arg(args, "--out").getOrElse(".bench_build/perfbench"))
    val expected = Paths.get(arg(args, "--expected").getOrElse("perfbench/expected"))
    val mk = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val work = Files.createDirectories(out.resolve("work")
      .resolve(s"$workload-${ProcessHandle.current().pid()}"))
    val code =
      try run(workload, mk(), seed, seconds, trace, out, expected, work, jvmStartMs)
      finally Files.walk(work).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    System.out.flush()
    sys.exit(code)
  }

  private def run(name: String, w: Workload, seed: Long, seconds: Double, trace: Boolean,
      out: Path, expected: Path, work: Path, jvmStartMs: Long): Int = {
    val tr = new Trace
    tr.active = trace
    val c0 = Counters.now()
    val spark = tr.span("session.build", "GraftSession")(graft.GraftSession.build(s"perfbench-$name"))
    val sessionS = (System.nanoTime() - c0.wallNs) / 1e9
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val r = new Runner(spark, seed, out, work, expected, tr)
    try {
      tr.span("setup", "run")(w.setup(r))
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val c1 = Counters.now()

      // Measured passes. A traced run interleaves untraced and traced passes
      // (ABBA, so a steady drift does not favour either) and measures the
      // tracing overhead in the same process.
      val measured = ArrayBuffer.empty[PassRec]
      val minPasses = if (trace) math.max(4, w.minPasses) else w.minPasses
      val t0 = System.nanoTime()
      var p = 0
      while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        tr.active = trace && (p % 4 == 1 || p % 4 == 2)
        measured += w.pass(r, "measured", p)
        p += 1
      }
      tr.active = false
      val c2 = Counters.now()
      val measureS = (c2.wallNs - t0) / 1e9

      val failures = r.setupPasses.flatMap(_.ops).filterNot(_.ok).map(o => s"set-up op ${o.name} failed") ++
        w.check(r, measured.toSeq)
      val extras = w.extras(r, measured.toSeq)
      listener.foreach(_.drain())

      val plain = measured.filterNot(_.traced).take(w.minPasses).toSeq
      val ops = plain.flatMap(_.ops)
      val attempted = measured.map(_.ops.length).sum
      val failed = measured.map(_.ops.count(!_.ok)).sum
      val opMs = ops.map(_.wallNs / 1e6)
      val tailP = Stats.tailPercentile(opMs.length).getOrElse(50.0)
      val tailV = opMs.sorted.apply(Stats.nearestRank(tailP, opMs.length) - 1)
      val tailN = opMs.length
      val e2e = Seq(
        ("setup_s", setupS, "s", 1),
        ("cpu_s", Stats.median(plain.map(_.delta.cpuNs / 1e9)), "s", plain.length))
      // Wall-clock latencies repeat across runs only to about a fifth on a
      // shared 4-core host, so they are per-layer metrics (NOTES.md), as is
      // the CPU of the Java threads alone (cpu_s without JIT and GC).
      val secondary = Seq(
        ("app_cpu_s", Stats.median(plain.map(_.delta.appCpuNs / 1e9)), "s", plain.length),
        ("pass_s", Stats.median(plain.map(_.wallNs / 1e9)), "s", plain.length),
        ("op_p50_ms", Stats.median(opMs), "ms", opMs.length),
        ("op_tail_ms", tailV, "ms", tailN))

      val layers: Seq[(String, Double, String)] =
        if (!trace) Nil
        else Layers.compute(r, listener.get, measured.toSeq,
          extras ++ secondary.map { case (n, v, u, _) => n -> (v, u) }, sessionS, c0, c1, c2)
      val correct = failures.isEmpty && failed == 0
      failures.foreach(f => System.err.println(s"perfbench: check failed: $f"))

      for ((n, v, u, k) <- e2e ++ secondary)
        println(f"metric $n%-14s $v%14.4f $u%-7s n=$k%d")
      println(f"metric ${"op_tail_ms"}%-14s is p$tailP%.1f of $tailN%d op samples")
      for ((n, (v, u)) <- extras.toSeq.sortBy(_._1))
        println(f"workload $n%-22s $v%14.4f $u")
      for ((n, v, u) <- layers)
        println(f"layer $n%-28s $v%14.4f $u")
      println(f"run measured ${measured.length}%d passes in $measureS%.2f s; attempted=$attempted failed=$failed correct=$correct")

      val metrics =
        if (!trace) e2e.map { case (n, v, u, _) => n -> (v, u) }
        else layers.map { case (n, v, u) => n -> (v, u) }
      val record = obj(
        "workload" -> name, "seed" -> seed, "trace" -> trace, "correct" -> correct,
        "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
        "passes" -> measured.length, "measure_s" -> measureS,
        "op_tail_percentile" -> tailP, "op_tail_samples" -> tailN,
        "op_ms_quartiles" -> Stats.quantiles(opMs),
        "end_to_end" -> obj(e2e.map { case (n, v, u, k) =>
          n -> obj("value" -> v, "unit" -> u, "samples" -> k) }: _*),
        "secondary" -> obj(secondary.map { case (n, v, u, k) =>
          n -> obj("value" -> v, "unit" -> u, "samples" -> k) }: _*),
        "workload_metrics" -> obj(extras.toSeq.map { case (n, (v, u)) =>
          n -> obj("value" -> v, "unit" -> u) }: _*),
        "per_layer" -> obj(layers.map { case (n, v, u) =>
          n -> obj("value" -> v, "unit" -> u) }: _*),
        "pass_s" -> measured.map(m => obj("traced" -> m.traced, "s" -> m.wallNs / 1e9,
          "cpu_s" -> m.delta.cpuNs / 1e9)),
        "last_pass_ops" -> measured.last.ops.map(o => obj("op" -> o.name, "ms" -> o.wallNs / 1e6)),
        "setup_pass_s" -> r.setupPasses.map(m => obj("phase" -> m.phase, "s" -> m.wallNs / 1e9,
          "cpu_s" -> m.delta.cpuNs / 1e9)))
      val results = Files.createDirectories(out.resolve("results"))
      Files.writeString(results.resolve(s"$name-seed$seed-trace${if (trace) 1 else 0}.json"), json.writeValueAsString(record))
      if (trace) {
        val spans = tr.all.map(s => obj("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "start_ms" -> (s.startNs - c0.wallNs) / 1e6,
          "dur_ms" -> (s.endNs - s.startNs) / 1e6, "self_ms" -> tr.selfNs(s) / 1e6,
          "group" -> s.group))
        val traceDir = Files.createDirectories(out.resolve("trace"))
        val f = traceDir.resolve(s"$name-seed$seed.json")
        Files.writeString(f, json.writeValueAsString(obj("run" -> record, "spans" -> spans)))
        println(s"trace written to $f")
      }
      println(json.writeValueAsString(obj("correct" -> correct, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> obj(metrics.map { case (n, (v, u)) =>
          n -> obj("value" -> v, "unit" -> u) }: _*))))
      if (correct) 0 else 1
    } finally {
      graft.Caches.clear()
      spark.stop()
    }
  }
}
