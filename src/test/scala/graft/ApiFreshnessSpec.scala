package graft

import java.nio.file.{Files, Paths}

import graft.api.Graft
import graft.ingest.SilverWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The façade resolves each silver table once and reuses it while the
  * table's first-level stamp holds. These specs pin both halves: one
  * `Graft` instance sees every write the engine makes on its next read,
  * and a repeated read of an unchanged table starts no Spark job. Each
  * test builds its own root (not the shared ApiFixture), since it writes.
  */
class ApiFreshnessSpec extends SparkSpec {

  private def newRoot(): String =
    Files.createTempDirectory("graft-api-fresh").toString

  private def splitRows(ids: Seq[Long], hr: Double): DataFrame = {
    val s = spark
    import s.implicits._
    Schemas.conform(
      ids.flatMap(id => (1 to 3).map(i => (id, i, hr + i))).toDF(
        "activity_id", "split_index", "heart_rate"),
      "splits")
  }

  test("a rewritten partition and a new partition are seen on the next read") {
    val root = newRoot()
    val path = s"$root/splits"
    SilverWriter.upsertByPartition(splitRows(Seq(1L, 2L), 140.0), path)
    val g = new Graft(spark, root)
    def maxHr(id: Long): Double =
      g.splits.paceHr(id).agg(max("heart_rate")).head().getDouble(0)
    assert(maxHr(1L) === 143.0)
    assert(maxHr(2L) === 143.0)

    SilverWriter.upsertByPartition(splitRows(Seq(1L), 150.0), path)
    assert(maxHr(1L) === 153.0)
    assert(maxHr(2L) === 143.0)

    SilverWriter.upsertByPartition(splitRows(Seq(3L), 160.0), path)
    assert(maxHr(3L) === 163.0)
    assert(g.table("splits").select("activity_id").distinct().count() === 3L)
  }

  test("repeated statistics_only reads leave the shared-frame registry as it was") {
    val root = newRoot()
    SilverWriter.upsertByPartition(splitRows(Seq(1L, 2L, 3L), 140.0),
      s"$root/splits")
    val g = new Graft(spark, root)
    val initial = Caches.levels()
    def paceHr(id: Long) = assert(g.splits.paceHr(id, statisticsOnly = true)
      .head().getAs[Double]("median_heart_rate") === 142.0)
    paceHr(1L)
    // the first read adds the root's splits frame, and only that
    val before = Caches.levels()
    assert(before.map(_._1).diff(initial.map(_._1)) === Seq(s"silver:$root/splits"))
    for (_ <- 1 to 2; id <- Seq(1L, 2L, 3L)) {
      paceHr(id)
      assert(g.splits.formMetrics(id, statisticsOnly = true)
        .head().getAs[Long]("n_rows") === 3L)
    }
    assert(Caches.levels() === before)
  }

  private def runRows(ids: Seq[Long], km: Double): DataFrame = {
    val s = spark
    import s.implicits._
    Schemas.conform(ids.map(id => (id,
      java.sql.Date.valueOf(java.time.LocalDate.of(2026, 6, 1).plusDays(id)), km))
      .toDF("activity_id", "activity_date", "total_distance_km"), "activities")
  }

  test("an activities upsert is seen by acwr and weekly volume on the next call") {
    val root = newRoot()
    val path = s"$root/activities"
    SilverWriter.upsertByPartition(runRows(Seq(1L, 2L), 5.0), path)
    val g = new Graft(spark, root)
    def acwrKm(): Double =
      g.trainingLoad.acwr().agg(sum("load_km")).head().getDouble(0)
    def weeklyKm(): Double =
      g.trends.weeklyVolume().agg(sum("load_km")).head().getDouble(0)
    assert(acwrKm() === 10.0)
    assert(weeklyKm() === 10.0)

    // activity 2 rewritten, activity 3 new
    SilverWriter.upsertByPartition(runRows(Seq(2L, 3L), 8.0), path)
    assert(acwrKm() === 21.0)
    assert(weeklyKm() === 21.0)
    assert(g.trainingLoad.acwr().count() === 3L)
    val slots = Caches.levels().filter(_._1 == s"silver:$path")
    assert(slots.size === 1)
    assert(slots.head._2.useDisk)
  }

  test("a series upsert is seen by heat and durability on the next call") {
    val root = AthleteFixture.copy()
    val series = s"$root/time_series_metrics"
    val g = new Graft(spark, root)
    val (from, to) = ("2026-05-02", "2026-06-15")
    def trend(g: Graft): Seq[Any] = g.heat.heatTrend(from, to).head().toSeq
    def decoupling(id: Long): Seq[Double] = g.durability.activityDurability(id)
      .collect().map(_.getAs[Double]("decoupling_pct")).toSeq
    def tempOn(id: Long): Double = g.heat.heatCostPoints(from, to)
      .where(col("date") === AthleteFixture.date(id)).head().getAs[Double]("temp_c")
    val before = trend(g)
    assert(decoupling(25L).isEmpty)

    // run 3 rewritten hotter, with 10 % decoupling
    SilverWriter.upsertByPartition(
      AthleteFixture.series(spark, 3L, 100.0, 110.0, 35.0), series)
    assert(decoupling(3L) === Seq(10.0))
    assert(tempOn(3L) === 35.0)
    val after = trend(g)
    assert(after !== before)
    // as a façade that never saw the old files answers
    val cold = trend(new Graft(spark, AthleteFixture.copy(root)))
    after.zip(cold).foreach {
      case (a: Double, c: Double) => assert(math.abs(a - c) <= 1e-9 * math.abs(c))
      case (a, c) => assert(a === c)
    }

    // a new run's partition (run 25 has no activities row: durability only)
    SilverWriter.upsertByPartition(
      AthleteFixture.series(spark, 25L, 100.0, 105.0, 20.0), series)
    assert(decoupling(25L) === Seq(5.0))
    Seq("heat", "durability").foreach { name =>
      val slots = Caches.levels().filter(_._1 == s"$name:$series")
      assert(slots.size === 1, name)
      assert(slots.head._2.useDisk, name)
    }
  }

  test("a plain read of a served table is as fresh as it is without the frame") {
    val root = newRoot()
    val path = s"$root/activities"
    SilverWriter.upsertByPartition(runRows(Seq(1L, 2L), 5.0), path)
    val g = new Graft(spark, root)
    assert(g.trainingLoad.acwr().count() === 2L) // builds and fills the frame

    SilverWriter.upsertByPartition(runRows(Seq(3L), 5.0), path)
    assert(spark.read.parquet(path).count() === 3L)
    assert(g.trainingLoad.acwr().count() === 3L)

    // a partition copied into place outside Spark, read before any façade call
    val elsewhere = s"${newRoot()}/activities"
    SilverWriter.upsertByPartition(runRows(Seq(4L), 5.0), elsewhere)
    Files.move(Paths.get(s"$elsewhere/activity_id=4"),
      Paths.get(s"$path/activity_id=4"))
    assert(spark.read.parquet(path).count() === 4L)
    assert(g.trainingLoad.acwr().count() === 4L)
  }

  test("profile: a missing table, then its first write, then an overwrite") {
    val g = new Graft(spark, newRoot())
    val s = spark
    import s.implicits._
    def profile(day: Int): DataFrame =
      Seq(("default", day)).toDF("user_id", "week_start_day")
    assert(g.weekStartDay() === 0) // athlete_profile not written yet
    g.athlete.saveProfile(profile(3))
    assert(g.weekStartDay() === 3)
    g.athlete.saveProfile(profile(5))
    assert(g.weekStartDay() === 5)
    assert(g.table("athlete_profile").count() === 1L)
  }

  test("weekly reviews: each append is seen on the next read") {
    val g = new Graft(spark, newRoot())
    val s = spark
    import s.implicits._
    def review(id: Int, createdAt: String): DataFrame =
      Seq((id, "default", java.sql.Date.valueOf("2026-06-01"),
        java.sql.Timestamp.valueOf(createdAt), s"rev $id"))
        .toDF("review_id", "user_id", "week_start_date", "created_at",
          "review_data")
    g.athlete.saveWeeklyReview(review(1, "2026-06-08 10:00:00"))
    assert(g.table("weekly_reviews").count() === 1L)
    g.athlete.saveWeeklyReview(review(2, "2026-06-09 10:00:00"))
    assert(g.table("weekly_reviews").count() === 2L)
    val latest = g.athlete.latestReviews().collect()
    assert(latest.map(_.getAs[Int]("review_id")).toSeq === Seq(2))
  }

  test("a repeated read of an unchanged partitioned table starts no job") {
    val root = newRoot()
    // 40 partitions: above Spark's parallel-listing threshold (32), so a
    // fresh resolution lists them with a job of its own
    SilverWriter.upsertByPartition(splitRows((1L to 40L), 140.0),
      s"$root/splits")
    val g = new Graft(spark, root)
    def jobsToBuild(): Int =
      Telemetry.measure(spark, "table-build")(
        g.table("splits").where(col("activity_id") === 7L)).jobs
    assert(jobsToBuild() >= 1)
    assert(jobsToBuild() === 0)
    // the reused frame still prunes to the one partition and reads it
    assert(g.table("splits").where(col("activity_id") === 7L).count() === 3L)
  }
}
