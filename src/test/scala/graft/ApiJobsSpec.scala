package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.api.Graft
import graft.ingest.SilverWriter
import org.apache.spark.sql.functions._

/** The façade's hot calls run in as few Spark jobs as their result needs:
  * an athlete-sized read sits in one partition, so the aggregate, window
  * or sort above it runs no exchange, and a read that collects every row
  * sorts on the driver or inside that partition. The order those reads
  * return must not depend on how the rows sit in the files.
  */
class ApiJobsSpec extends SparkSpec {

  private lazy val g = new Graft(spark, ApiFixture.root)

  private def jobs(body: => Any): Int =
    Telemetry.measure(spark, "api-jobs")(body).jobs

  test("hot façade calls: heat trend <= 4 jobs, recovery status and paceHr 1") {
    // resolve the tables first: a first read infers the schema in a job
    g.heat.heatTrend("2026-06-01", "2026-06-30").collect()
    g.physiology.recoveryStatus()
    g.splits.paceHr(100L).collect()

    val trend = g.heat.heatTrend("2026-06-01", "2026-06-30")
    assert(jobs(trend.collect()) <= 4)
    assert(trend.head().getAs[String]("status") === "ok")
    assert(jobs(g.physiology.recoveryStatus()) === 1)
    assert(jobs(g.splits.paceHr(100L).collect()) === 1)
  }

  /** The eight `api_serve` calls (8 jobs: 1 per call), then the other
    * one-partition reads, each at its job count and with no exchange over
    * an activity-partitioned root. Each count is taken on a freshly built
    * DataFrame: a second action on one Dataset would reuse its materialized
    * stages.
    */
  private lazy val athlete = new Graft(spark, AthleteFixture.root)
  private lazy val athleteCalls: Seq[(String, Int, () => Any)] = {
    val a = athlete
    val (from, to) = ("2026-05-02", "2026-06-15")
    Seq(
      ("splits.paceHr", 1, () => a.splits.paceHr(3L).collect()),
      ("trainingLoad.acwr", 1, () => a.trainingLoad.acwr().collect()),
      ("physiology.recoveryStatus", 1, () => a.physiology.recoveryStatus()),
      ("trends.weeklyVolume", 1, () => a.trends.weeklyVolume().collect()),
      ("comparisons.findSimilarWorkouts", 1,
        () => a.comparisons.findSimilarWorkouts(4L).collect()),
      ("durability.activityDurability", 1,
        () => a.durability.activityDurability(3L).collect()),
      ("heat.heatTrend", 1, () => a.heat.heatTrend(from, to).collect()),
      ("timeSeries.timeRangeStats", 1,
        () => a.timeSeries.timeRangeStats(3L, 5, 30, "heart_rate").collect()),
      ("trends.monthlyVolume", 1, () => a.trends.monthlyVolume().collect()),
      ("durability.longRuns", 1, () => a.durability.longRuns(from, to).collect()),
      ("durability.durabilityTrend", 1,
        () => a.durability.durabilityTrend(from, to).collect()),
      ("heat.heatCostPoints", 1, () => a.heat.heatCostPoints(from, to).collect()),
      ("splits.paceHr statisticsOnly", 2,
        () => a.splits.paceHr(3L, statisticsOnly = true).collect()))
  }

  test("api_serve calls at their job floor over an activity-partitioned root") {
    athleteCalls.foreach(_._3()) // resolve every table first
    val got = athleteCalls.map { case (name, _, run) =>
      val r = Telemetry.measure(spark, "api-jobs")(run())
      name -> (r.jobs, r.exchanges)
    }
    assert(got === athleteCalls.map { case (name, n, _) => name -> (n, 0) })
  }

  /** Files a warm call opens: the athlete-sized tables and the per-run
    * series summaries are frames, so only a call that reads one activity's
    * samples opens a file, that partition's.
    */
  private val warmFiles = Map(
    "splits.paceHr" -> 0L, "trainingLoad.acwr" -> 0L,
    "physiology.recoveryStatus" -> 0L, "trends.weeklyVolume" -> 0L,
    "comparisons.findSimilarWorkouts" -> 0L,
    "durability.activityDurability" -> 0L, "heat.heatTrend" -> 0L,
    "timeSeries.timeRangeStats" -> 1L)

  test("warm calls read the athlete tables from memory and one series file") {
    val calls = athleteCalls.filter(c => warmFiles.contains(c._1))
    calls.foreach(_._3())
    val got = calls.map { case (name, _, run) =>
      name -> Telemetry.measure(spark, "api-files")(run()).filesRead }.toMap
    assert(got === warmFiles)
  }

  test("acwr windows keep their athlete key") {
    val acwr = athlete.trainingLoad.acwr()
    acwr.collect()
    // the helper walks AQE's final plan and its query stages
    val windows = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(acwr.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
  }

  test("heat and durability frames: warm reads no file, a series write one pass") {
    val root = AthleteFixture.copy()
    val series = s"$root/time_series_metrics"
    val g = new Graft(spark, root)
    val (from, to) = ("2026-05-02", "2026-06-15")
    val calls: Seq[(String, () => Any)] = Seq(
      "heat.heatTrend" -> (() => g.heat.heatTrend(from, to).collect()),
      "durability.activityDurability" ->
        (() => g.durability.activityDurability(3L).collect()),
      "heat.heatCostPoints" -> (() => g.heat.heatCostPoints(from, to).collect()),
      "durability.longRuns" -> (() => g.durability.longRuns(from, to).collect()),
      "durability.durabilityTrend" ->
        (() => g.durability.durabilityTrend(from, to).collect()))
    def files(): Seq[(String, Long)] = calls.map { case (name, run) =>
      name -> Telemetry.measure(spark, "api-files")(run()).filesRead }
    calls.foreach(_._2())
    assert(files() === calls.map(_._1 -> 0L))

    SilverWriter.upsertByPartition(
      AthleteFixture.series(spark, 3L, 140.0, 150.0, 25.0), series)
    val seriesFiles = Using.resource(Files.walk(Paths.get(series)))(
      _.iterator().asScala.count(_.toString.endsWith(".parquet"))).toLong
    assert(seriesFiles >= AthleteFixture.ids.size)
    // the first heat and the first durability call each build their frame
    assert(files() === calls.map(_._1).zip(
      Seq(seriesFiles, seriesFiles, 0L, 0L, 0L)))
    assert(files() === calls.map(_._1 -> 0L))
  }

  test("recovery status and split reads keep date / split order across files written out of order") {
    val root = Files.createTempDirectory("graft-api-order").toString
    val s = spark
    import s.implicits._
    // HRV sits under baseline on the last two nights only: sorted, that is
    // under-recovery ("easy"); any other last row reads as "quality"
    def nights(days: Seq[Int]) = days.map { i =>
      (java.sql.Date.valueOf(f"2026-06-$i%02d"), 48.0,
        if (i >= 29) 38.0 else 50.0, 45.0, 80, 80)
    }.toDF("date", "resting_hr", "hrv_overnight", "hrv_baseline_low",
      "readiness", "sleep_score")
    // two files, each written newest first: the later dates land first
    for (days <- Seq(30 to 16 by -1, 15 to 1 by -1))
      nights(days).coalesce(1).write.mode("append")
        .parquet(s"$root/daily_wellness")

    def laps(idx: Seq[Int]) = Schemas.conform(idx.map { i =>
      (100L, i, if (i % 2 == 0) "INTERVAL" else "RECOVERY", 60.0 * i)
    }.toDF("activity_id", "split_index", "intensity_type",
      "duration_seconds"), "splits")
    for (idx <- Seq(Seq(6, 5, 4), Seq(3, 2, 1)))
      laps(idx).coalesce(1).write.mode("append").partitionBy("activity_id")
        .parquet(s"$root/splits")

    val g2 = new Graft(spark, root)
    assert(spark.read.parquet(s"$root/daily_wellness").inputFiles.length === 2)
    assert(g2.physiology.recoveryStatus() === "easy")
    val dev = g2.physiology.wellnessDeviation("hrv_overnight", "low_is_bad")
    assert(dev.flag === "low" && dev.adverse)
    assert(g2.splits.paceHr(100L).collect().map(_.getAs[Int]("split_index"))
      .toSeq === (1 to 6))
    assert(g2.splits.intervalAnalysis(100L).map(_.startS) ===
      (1 to 6).scanLeft(0.0)(_ + 60.0 * _).init)
  }
}
