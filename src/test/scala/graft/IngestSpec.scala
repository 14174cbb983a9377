package graft

import java.nio.file.{Files, Path}
import graft.ingest.{SilverWriter, SplitsEnrich}
import graft.sources.GarminJson
import org.apache.spark.sql.functions._

/** Bronze→silver pipeline over Garmin-shaped fixture JSON (shapes from
  * FIXTURES.md §A — same structure as the reference's
  * tests/fixtures/data/raw/activity/12345678901).
  */
class IngestSpec extends SparkSpec {

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  private lazy val root: String = {
    val d = Files.createTempDirectory("graft-ingest")
    val a1 = d.resolve("activity/12345678901")
    write(a1.resolve("activity.json"),
      """{"activityId": 12345678901, "activityName": "Morning Run",
        |"activityTypeDTO": {"typeId": 1, "typeKey": "running", "parentTypeId": 17},
        |"locationName": "Tokyo",
        |"summaryDTO": {"distance": 10000.0, "duration": 3600.0,
        |  "averageSpeed": 2.78, "averageHR": 150, "maxHR": 172, "minHR": 95,
        |  "startTimeLocal": "2026-05-01T07:00:00", "startTimeGMT": "2026-04-30T22:00:00",
        |  "trainingEffectLabel": "AEROBIC_BASE"}}""".stripMargin)
    // 8 laps, no intensityType -> estimation kicks in.
    // avg pace = (400*2 + 300*2 + 500*2 + 400*2)/8 = 400; avg HR = 150
    // expected: WARMUP WARMUP INTERVAL(300<360) RECOVERY(500>400 after work)
    //           INTERVAL RECOVERY COOLDOWN COOLDOWN
    val lap = (i: Int, speed: Double, hr: Double, gain: Double, loss: Double) =>
      s"""{"lapIndex": $i, "distance": 1000.0, "duration": ${1000.0 / speed},
         |"averageSpeed": $speed, "averageHR": $hr,
         |"averageRunCadence": ${160 + i * 5}, "averagePower": ${200.0 + i * 20},
         |"elevationGain": $gain, "elevationLoss": $loss}""".stripMargin
    val laps = Seq(
      lap(1, 2.5, 140, 1.0, 1.0),   // pace 400
      lap(2, 2.5, 145, 2.0, 2.0),
      lap(3, 1000.0 / 300, 168, 3.0, 4.0), // pace 300 -> INTERVAL
      lap(4, 2.0, 150, 6.0, 7.0),   // pace 500 after work -> RECOVERY
      lap(5, 1000.0 / 300, 170, 10.0, 8.0), // INTERVAL
      lap(6, 2.0, 152, 20.0, 15.0), // RECOVERY
      lap(7, 2.5, 146, 0.5, 0.5),
      lap(8, 2.5, 140, 0.0, 0.0))
    write(a1.resolve("splits.json"),
      s"""{"activityId": 12345678901, "lapDTOs": [${laps.mkString(",")}]}""")
    write(a1.resolve("hr_zones.json"),
      """[{"zoneNumber": 1, "zoneLowBoundary": 97, "secsInZone": 120.0},
        |{"zoneNumber": 2, "zoneLowBoundary": 117, "secsInZone": 600.0},
        |{"zoneNumber": 3, "zoneLowBoundary": 137, "secsInZone": 900.0},
        |{"zoneNumber": 4, "zoneLowBoundary": 157, "secsInZone": 300.0},
        |{"zoneNumber": 5, "zoneLowBoundary": 176, "secsInZone": 60.0}]""".stripMargin)
    write(a1.resolve("weather.json"),
      """{"temp": 50, "apparentTemp": 46, "dewPoint": 37, "relativeHumidity": 65,
        |"windSpeed": 12, "windDirection": 200,
        |"windDirectionCompassPoint": "SSW"}""".stripMargin)
    write(a1.resolve("activity_details.json"),
      """{"activityId": 12345678901, "measurementCount": 3, "metricsCount": 3,
        |"metricDescriptors": [
        |  {"metricsIndex": 0, "key": "directHeartRate",
        |   "unit": {"id": 100, "key": "bpm", "factor": 1.0}},
        |  {"metricsIndex": 1, "key": "directSpeed",
        |   "unit": {"id": 20, "key": "mps", "factor": 0.1}},
        |  {"metricsIndex": 2, "key": "sumDuration",
        |   "unit": {"id": 1, "key": "second", "factor": 1.0}}],
        |"activityDetailMetrics": [
        |  {"metrics": [120, 2.5, 0]},
        |  {"metrics": [125, 2.6, 1]},
        |  {"metrics": [130, 2.7, 2]}]}""".stripMargin)
    d.toString
  }

  test("activities reader: typed columns from nested summaryDTO") {
    val a = GarminJson.readActivities(spark, root).collect()
    assert(a.length === 1)
    val r = a.head
    assert(r.getAs[Long]("activity_id") === 12345678901L)
    assert(r.getAs[String]("training_type") === "aerobic_base")
    assert(r.getAs[Double]("total_distance_km") === 10.0)
  }

  test("splits reader: lapDTOs explode with pace derivation") {
    val s = GarminJson.readSplits(spark, root)
    assert(s.count() === 8)
    val lap1 = s.where("split_index = 1").first()
    assert(math.abs(lap1.getAs[Double]("pace_seconds_per_km") - 400.0) < 1e-9)
  }

  test("hr_zones reader: activity id derived from the path") {
    val z = GarminJson.readHrZones(spark, root)
    assert(z.count() === 5)
    assert(z.select("activity_id").distinct().first().getLong(0) === 12345678901L)
  }

  test("time-series decode: positional metrics via descriptor map, factor ignored") {
    val ts = GarminJson.readTimeSeries(spark, root).orderBy("seq_no").collect()
    assert(ts.length === 3)
    assert(ts(0).getAs[Double]("heart_rate") === 120.0)
    // factor 0.1 on directSpeed must NOT be applied (documented Garmin quirk)
    assert(ts(0).getAs[Double]("speed") === 2.5)
    assert(ts(2).getAs[Double]("timestamp_s") === 2.0)
    // seq_no is the row ordinal
    assert(ts.map(_.getAs[Int]("seq_no")).toSeq === Seq(0, 1, 2))
  }

  test("intensity estimation: reference algorithm sequence on 8-lap interval workout") {
    val labels = SplitsEnrich.estimateIntensity(Seq(
      (Some(140.0), Some(400.0)), (Some(145.0), Some(400.0)),
      (Some(168.0), Some(300.0)), (Some(150.0), Some(500.0)),
      (Some(170.0), Some(300.0)), (Some(152.0), Some(500.0)),
      (Some(146.0), Some(400.0)), (Some(140.0), Some(400.0))))
    assert(labels === Seq("WARMUP", "WARMUP", "INTERVAL", "RECOVERY",
      "INTERVAL", "RECOVERY", "COOLDOWN", "COOLDOWN"))
    // edge cases from the reference: 1 lap, <=6 laps single warmup/cooldown
    assert(SplitsEnrich.estimateIntensity(Seq((Some(150.0), Some(400.0)))) === Seq("ACTIVE"))
    assert(SplitsEnrich.estimateIntensity(
      Seq.fill(4)((Some(150.0), Some(400.0)))) ===
      Seq("WARMUP", "ACTIVE", "ACTIVE", "COOLDOWN"))
  }

  test("end-to-end enrich: zones, ratings, terrain, environment") {
    val enriched = SplitsEnrich.enrich(
      GarminJson.readSplits(spark, root),
      GarminJson.readHrZones(spark, root),
      GarminJson.readWeather(spark, root),
      GarminJson.readActivities(spark, root))
    val rows = enriched.orderBy("split_index").collect()
    assert(rows.length === 8)
    val bySplit = rows.map(r => r.getAs[Int]("split_index") -> r).toMap
    // hr 140 -> Zone 3 (137..157); hr 168 -> Zone 4 (157..176)
    assert(bySplit(1).getAs[String]("hr_zone") === "Zone 3")
    assert(bySplit(3).getAs[String]("hr_zone") === "Zone 4")
    // estimated intensity flowed into role_phase
    assert(bySplit(1).getAs[String]("role_phase") === "warmup")
    assert(bySplit(3).getAs[String]("role_phase") === "run")
    assert(bySplit(4).getAs[String]("role_phase") === "recovery")
    assert(bySplit(8).getAs[String]("role_phase") === "cooldown")
    // terrain: |1|+|1|=2 平坦; |6|+|7|=13 起伏; |10|+|8|=18 丘陵; |20|+|15|=35 山岳
    assert(bySplit(1).getAs[String]("terrain_type") === "平坦")
    assert(bySplit(4).getAs[String]("terrain_type") === "起伏")
    assert(bySplit(5).getAs[String]("terrain_type") === "丘陵")
    assert(bySplit(6).getAs[String]("terrain_type") === "山岳")
    // cadence 165 -> Low, 190 -> Elite
    assert(bySplit(1).getAs[String]("cadence_rating") === "Low (165 spm, target 180+)")
    assert(bySplit(6).getAs[String]("cadence_rating") === "Elite (190 spm)")
    // weather: 50F = 10C; wind 12 km/h dir 200 -> Moderate tailwind
    assert(bySplit(1).getAs[String]("wind_impact") === "Moderate tailwind (12 km/h)")
    // training_type aerobic_base -> interval_sprint bucket (not in the
    // recovery/base lists) -> 10C: Ideal band is 8..15
    assert(bySplit(1).getAs[String]("temp_impact") === "Ideal (10°C)")
    assert(bySplit(1).getAs[String]("environmental_conditions")
      === "Cool (10°C), Breezy (12 km/h)")
  }

  test("silver upsert is idempotent per activity partition") {
    val out = Files.createTempDirectory("graft-silver").toString + "/splits"
    val splits = GarminJson.readSplits(spark, root)
    SilverWriter.upsertByPartition(splits, out)
    SilverWriter.upsertByPartition(splits, out) // re-ingest same activity
    assert(spark.read.parquet(out).count() === 8)
  }

  test("high-water-mark: max date for catch-up, None when table absent") {
    val out = Files.createTempDirectory("graft-hwm").toString + "/activities"
    assert(SilverWriter.highWaterMark(spark, out, "activity_date").isEmpty)
    GarminJson.readActivities(spark, root).write.parquet(out)
    assert(SilverWriter.highWaterMark(spark, out, "activity_date")
      .contains(java.sql.Date.valueOf("2026-05-01")))
  }

  test("export sink enforces the row cap before writing") {
    val out = Files.createTempDirectory("graft-export").toString
    val df = Tables.lineitem(spark, sfDir).limit(100)
    assert(SilverWriter.export(df, s"$out/ok", "csv", maxRows = 100) === 100L)
    intercept[IllegalArgumentException] {
      SilverWriter.export(Tables.lineitem(spark, sfDir), s"$out/cap", maxRows = 10)
    }
  }
}
