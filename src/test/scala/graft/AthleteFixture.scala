package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.ingest.SilverWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One athlete's silver root laid out as ingest writes it: activities,
  * splits and time_series_metrics each upserted by `activity_id` partition
  * (so a per-activity read prunes to one directory), plus a month of
  * daily_wellness. Seeded, built once per JVM.
  *
  * 24 runs on distinct days from 2026-05-02 at 2-day steps, 6–16 km, with
  * 1 Hz series of 40–109 samples. Edge cases: activity 5 carries no form
  * metrics, activity 7 has a single sample (no usable span), activity 9 has
  * no heart rate and activity 11 a zero average speed.
  */
object AthleteFixture {
  lazy val root: String = build(TestSession.spark)

  val ids: Seq[Long] = (1L to 24L)
  val FormlessId = 5L
  val SingleSampleId = 7L

  def date(id: Long): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2026, 5, 2).plusDays(2 * (id - 1)))

  /** A copy of the fixture root (or of `src`), for a spec that writes. */
  def copy(src: String = root): String = {
    val (from, to) = (Paths.get(src), Files.createTempDirectory("graft-athlete-copy"))
    Using.resource(Files.walk(from))(_.iterator().asScala.foreach { p =>
      if (p != from) Files.copy(p, to.resolve(from.relativize(p)))
    })
    to.toString
  }

  /** 40 1 Hz samples of run `id` at constant speed and air temperature
    * `tempC`, with heart rate `hrFront` before the span's midpoint and
    * `hrBack` after it: a decoupling of (hrBack / hrFront - 1) * 100 %.
    */
  def series(spark: SparkSession, id: Long, hrFront: Double, hrBack: Double,
      tempC: Double): DataFrame = {
    import spark.implicits._
    Schemas.conform((0 until 40).map { t =>
      (id, t, t.toDouble, if (t < 20) hrFront else hrBack, 3.0, tempC)
    }.toDF("activity_id", "seq_no", "timestamp_s", "heart_rate", "speed",
      "air_temperature"), "time_series_metrics")
  }

  private def build(spark: SparkSession): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-athlete").toString
    val rnd = new scala.util.Random(11)

    val acts = ids.map { id =>
      val speed = if (id == 11L) 0.0 else 2.8 + rnd.nextInt(80) / 100.0
      val hr = if (id == 9L) None else Some(130.0 + rnd.nextInt(300) / 10.0)
      val ttype = Seq(Some("aerobic_base"), Some("Tempo"), None)(rnd.nextInt(3))
      (id, f"run $id%02d", date(id), 6.0 + rnd.nextInt(100) / 10.0, speed, hr, ttype)
    }.toDF("activity_id", "activity_name", "activity_date", "total_distance_km",
      "average_speed", "avg_heart_rate", "training_type")
    SilverWriter.upsertByPartition(Schemas.conform(acts, "activities"), s"$d/activities")

    val laps = ids.flatMap(id => (1 to 3).map { i =>
      (id, i, 1000.0, 300.0 + rnd.nextInt(60), 140.0 + rnd.nextInt(30))
    }).toDF("activity_id", "split_index", "distance", "duration_seconds", "heart_rate")
      .withColumn("pace_seconds_per_km", col("duration_seconds"))
    SilverWriter.upsertByPartition(Schemas.conform(laps, "splits"), s"$d/splits")

    val samples = ids.flatMap { id =>
      val n = if (id == SingleSampleId) 1 else 40 + rnd.nextInt(70)
      val temp = 8.0 + rnd.nextInt(200) / 10.0
      (0 until n).map { t =>
        val form = id != FormlessId
        (id, t, t.toDouble, 135.0 + t * 0.2 + rnd.nextGaussian(),
          3.2 - t * 0.002 + rnd.nextGaussian() * 0.05,
          Option.when(form)(240.0 + t * 0.1 + rnd.nextGaussian()),
          Option.when(form)(8.0 + t * 0.01),
          Option.when(form)(7.5 + rnd.nextInt(10) / 10.0),
          temp + rnd.nextGaussian(), 170.0 + rnd.nextInt(10))
      }
    }.toDF("activity_id", "seq_no", "timestamp_s", "heart_rate", "speed",
      "ground_contact_time", "vertical_oscillation", "vertical_ratio",
      "air_temperature", "cadence")
    SilverWriter.upsertByPartition(Schemas.conform(samples, "time_series_metrics"),
      s"$d/time_series_metrics")

    (1 to 30).map { i =>
      (java.sql.Date.valueOf(f"2026-06-$i%02d"), 48.0,
        if (i >= 29) 38.0 else 50.0, 45.0, 60, 70)
    }.toDF("date", "resting_hr", "hrv_overnight", "hrv_baseline_low",
      "readiness", "sleep_score")
      .write.parquet(s"$d/daily_wellness")
    d
  }
}
