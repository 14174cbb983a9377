package graft

import graft.ingest.SilverTables
import org.apache.spark.sql.functions._

class SilverTablesSpec extends SparkSpec {

  test("performance_trends: structure + drift + fragment-robust consistency") {
    import spark.implicits._
    // activity 1: interval session; activity 2: steady with a GPS fragment
    val splits = Seq(
      (1L, 1, "WARMUP", 1000.0, 400.0, 130.0),
      (1L, 2, "INTERVAL", 1000.0, 300.0, 160.0),
      (1L, 3, "RECOVERY", 1000.0, 550.0, 135.0),
      (1L, 4, "INTERVAL", 1000.0, 300.0, 170.0),
      (1L, 5, "RECOVERY", 1000.0, 550.0, 138.0),
      (2L, 1, "ACTIVE", 1000.0, 400.0, 140.0),
      (2L, 2, "ACTIVE", 1000.0, 404.0, 141.0),
      (2L, 3, "ACTIVE", 1000.0, 396.0, 149.0),
      (2L, 4, "ACTIVE", 120.0, 420.0, 150.0)) // GPS fragment: dist << median
      .toDF("activity_id", "split_index", "intensity_type", "distance",
        "pace_seconds_per_km", "heart_rate")
      // phase stats read lap duration / cadence / power too
      .withColumn("duration_seconds",
        col("pace_seconds_per_km") * col("distance") / 1000.0)
      .withColumn("cadence", lit(170.0))
      .withColumn("power", lit(null).cast("double"))
    val pt = SilverTables.performanceTrends(splits)
      .collect().map(r => r.getAs[Long]("activity_id") -> r).toMap
    assert(pt(1L).getAs[String]("workout_structure") === "interval")
    assert(pt(2L).getAs[String]("workout_structure") === "steady")
    // interval drift: INTERVAL reps 160 -> 170 at held pace => positive
    assert(pt(1L).getAs[Double]("hr_drift_percentage") > 0)
    // schema conformance: exact silver contract
    // nullability is data-dependent; the contract is names + types
    assert(SilverTables.performanceTrends(splits).schema
      .map(f => (f.name, f.dataType))
      === Schemas.performanceTrends.map(f => (f.name, f.dataType)))
    // robust CV excludes the fragment, full CV includes it
    val robust = pt(2L).getAs[Double]("pace_consistency")
    val full = pt(2L).getAs[Double]("pace_consistency_full")
    assert(robust > 0 && full > 0 && robust != full)
  }

  test("hr_efficiency: pcts sum to 100, Zone3-dominant easy refines to moderate") {
    import spark.implicits._
    val zones = Seq(
      // activity 1: controlled moderate (Zone3 60%, z4+5 10%)
      (1L, 1, 97.0, 60.0), (1L, 2, 117.0, 240.0), (1L, 3, 137.0, 600.0),
      (1L, 4, 157.0, 80.0), (1L, 5, 176.0, 20.0),
      // activity 2: genuine easy (Zone2 dominant)
      (2L, 1, 97.0, 200.0), (2L, 2, 117.0, 700.0), (2L, 3, 137.0, 100.0),
      (2L, 4, 157.0, 0.0), (2L, 5, 176.0, 0.0))
      .toDF("activity_id", "zone_number", "lower_bpm", "secs_in_zone")
    val acts = Seq((1L, "aerobic_base"), (2L, "aerobic_base"))
      .toDF("activity_id", "training_type")
    val he = SilverTables.hrEfficiency(zones, acts)
      .collect().map(r => r.getAs[Long]("activity_id") -> r).toMap
    assert(he(1L).getAs[String]("intensity_category") === "moderate")
    assert(he(2L).getAs[String]("intensity_category") === "easy")
    val total = Seq("zone1_pct", "zone2_pct", "zone3_pct", "zone4_pct", "zone5_pct")
      .map(he(1L).getAs[Double]).sum
    assert(math.abs(total - 100.0) < 0.05)
    // band scoring against each category's own correct zone band:
    // moderate run: z2+z3 = 24+60 = 84 >= 80 -> Excellent;
    // easy run: z1+z2 = 90 -> Excellent
    assert(he(1L).getAs[String]("zone_distribution_rating") === "Excellent")
    assert(he(2L).getAs[String]("zone_distribution_rating") === "Excellent")
  }

  test("zone distribution rating bands per category") {
    import spark.implicits._
    val df = Seq(
      ("easy", 40.0, 30.0, 20.0, 5.0, 5.0), // z1+z2=70 -> Fair
      ("moderate", 5.0, 30.0, 35.0, 20.0, 10.0), // z2+z3=65 -> Good
      ("tempo", 5.0, 15.0, 30.0, 35.0, 15.0), // z3+z4=65 -> Excellent
      ("threshold", 20.0, 40.0, 15.0, 15.0, 10.0), // z3+z4=30 -> Fair
      ("vo2max", 5.0, 10.0, 25.0, 30.0, 30.0), // z4+z5=60 -> Excellent
      ("vo2max", 30.0, 30.0, 30.0, 5.0, 5.0), // z4+z5=10 -> Poor
      ("unknown", 30.0, 30.0, 20.0, 10.0, 10.0), // z1..z3=80 -> Good
      ("unknown", 10.0, 20.0, 20.0, 25.0, 25.0)) // z1..z3=50 -> Fair, never Poor
      .toDF("cat", "z1", "z2", "z3", "z4", "z5")
    val got = df.select(SilverTables.zoneDistributionRating(col("cat"),
      col("z1"), col("z2"), col("z3"), col("z4"), col("z5")))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("Fair", "Good", "Excellent", "Fair", "Excellent",
      "Poor", "Good", "Fair"))
  }

  test("Schemas.conform: missing columns become typed nulls, extras dropped") {
    import spark.implicits._
    val df = Seq((1L, "x", 99)).toDF("activity_id", "stray_col", "readiness")
    val out = Schemas.conform(df, "vo2_max")
    assert(out.schema.map(f => (f.name, f.dataType))
      === Schemas.vo2Max.map(f => (f.name, f.dataType)))
    val row = out.first()
    assert(row.getAs[Long]("activity_id") === 1L)
    assert(row.isNullAt(out.schema.fieldIndex("precise_value")))
    intercept[IllegalArgumentException] { Schemas.conform(df, "nope") }
  }

  test("form_evaluations: column-math scoring matches the scalar scorer") {
    import spark.implicits._
    import graft.domain.FormBaseline
    val gct = FormBaseline.GctPowerModel(5.9, -0.8, 0.0, 60)
    val vo = FormBaseline.LinearModel(7.0, 0.9, 0.0, 50)
    val vr = FormBaseline.LinearModel(9.0, -0.5, 0.0, 50)
    val obs = Seq((10L, 250.0, 230.0, 11.0, 7.5))
      .toDF("activity_id", "pace_seconds_per_km", "gct_ms", "vo_cm", "vr_pct")
    val row = SilverTables.formEvaluations(obs, gct, vo, vr,
      java.sql.Timestamp.valueOf("2026-08-01 00:00:00")).first()
    // recompute with the scalar domain scorer
    val speed = 1000.0 / 250.0
    val gctExp = gct.predictInverse(speed)
    val voExp = vo.predict(speed)
    val vrExp = vr.predict(speed)
    val gd = (230.0 - gctExp) / gctExp * 100
    val vd = (11.0 - voExp) / voExp * 100
    val rd = (7.5 - vrExp) / vrExp * 100
    val expected = FormBaseline.score(gd, vd, rd)
    assert(math.abs(row.getAs[Float]("score") - expected.score) < 1e-4)
    assert(row.getAs[Boolean]("vo_needs_improvement") === expected.voNeedsImprovement)
    assert(math.abs(row.getAs[Float]("gct_penalty") - expected.gctPenalty) < 1e-4)
  }

  test("performance_trends: phase stats are size-weighted and evaluations pinned") {
    import spark.implicits._
    // warmup lap at low HR, two 1km run laps + a trailing fragment, cooldown
    val splits = Seq(
      (1L, 1, "WARMUP", 1000.0, 360.0, 132.0, 160.0),
      (1L, 2, "ACTIVE", 1000.0, 300.0, 150.0, 175.0),
      (1L, 3, "ACTIVE", 1000.0, 302.0, 152.0, 176.0),
      (1L, 4, "ACTIVE", 100.0, 330.0, 154.0, 177.0), // fragment, small weight
      (1L, 5, "COOLDOWN", 500.0, 380.0, 136.0, 158.0))
      .toDF("activity_id", "split_index", "intensity_type", "distance",
        "pace_seconds_per_km", "heart_rate", "cadence")
      .withColumn("duration_seconds",
        col("pace_seconds_per_km") * col("distance") / 1000.0)
      .withColumn("power", lit(null).cast("double"))
    val r = SilverTables.performanceTrends(splits).head()
    assert(r.getAs[String]("warmup_splits") === "1")
    assert(r.getAs[String]("run_splits") === "2,3,4")
    assert(r.getAs[String]("cooldown_splits") === "5")
    assert(r.getAs[String]("recovery_splits") === null)
    // run avg pace = total time / total distance (distance-weighted)
    val durs = Seq(300.0, 302.0 * 1.0, 330.0 * 0.1)
    val wantPace = (300.0 + 302.0 + 33.0) / 2.1
    assert(math.abs(r.getAs[Double]("run_avg_pace_seconds_per_km") - wantPace) < 1e-9)
    // time-weighted HR, rounded to 1 dp
    val hrWant = BigDecimal((150.0 * 300.0 + 152.0 * 302.0 + 154.0 * 33.0) /
      (300.0 + 302.0 + 33.0)).setScale(1, BigDecimal.RoundingMode.HALF_EVEN)
    assert(BigDecimal(r.getAs[Double]("run_avg_hr")) === hrWant)
    assert(r.getAs[String]("warmup_avg_pace_str") === "6:00")
    // evaluations: warmup hr 132 < 140 -> Good; no recovery phase;
    // cooldown 136 < 140 -> Good; run CV tiny + hr >= 145 -> Excellent
    assert(r.getAs[String]("warmup_evaluation") === "Good warmup")
    assert(r.getAs[String]("run_evaluation") === "Excellent")
    assert(r.getAs[String]("recovery_evaluation") === "No recovery")
    assert(r.getAs[String]("cooldown_evaluation") === "Good cooldown")
    assert(r.getAs[String]("cadence_consistency") === "安定")
    assert(r.getAs[String]("fatigue_pattern") === "適切")
  }

  test("pace_consistency falls back to all paces when <2 laps survive the filter") {
    import spark.implicits._
    // activity 1: one full lap + one fragment -> robust set has 1 lap ->
    // fallback to CV over BOTH paces; activity 2: single lap -> CV 0.0
    val splits = Seq(
      (1L, 1, "ACTIVE", 1000.0, 300.0, 150.0),
      (1L, 2, "ACTIVE", 100.0, 420.0, 151.0),
      (2L, 1, "ACTIVE", 1000.0, 310.0, 149.0))
      .toDF("activity_id", "split_index", "intensity_type", "distance",
        "pace_seconds_per_km", "heart_rate")
      .withColumn("duration_seconds", lit(300.0))
      .withColumn("cadence", lit(null).cast("double"))
      .withColumn("power", lit(null).cast("double"))
    val pt = SilverTables.performanceTrends(splits)
      .collect().map(r => r.getAs[Long]("activity_id") -> r).toMap
    // fallback: CV over (300, 420)
    val mean = 360.0
    val sd = math.sqrt(Seq(300.0, 420.0).map(v => (v - mean) * (v - mean)).sum / 1)
    assert(math.abs(pt(1L).getAs[Double]("pace_consistency") - sd / mean) < 1e-12)
    assert(pt(2L).getAs[Double]("pace_consistency") === 0.0)
    assert(pt(2L).getAs[Double]("pace_consistency_full") === 0.0)
  }

  test("form_efficiency: stats, ratings, evaluations, variability, vo_trend") {
    import spark.implicits._
    val splits = Seq(
      // activity 1: 4 laps, stable VO, gct avg 230 -> ★★★★☆ / Excellent
      (1L, 1, 228.0, 8.2, 7.1),
      (1L, 2, 232.0, 8.3, 7.2),
      (1L, 3, 230.0, 8.1, 7.0),
      (1L, 4, 230.0, 8.2, 7.1),
      // activity 2: 2 laps only -> vo_trend insufficient
      (2L, 1, 300.0, 13.0, 11.0),
      (2L, 2, 300.0, 13.0, 11.0))
      .toDF("activity_id", "split_index", "ground_contact_time",
        "vertical_oscillation", "vertical_ratio")
    val fe = SilverTables.formEfficiency(splits)
      .collect().map(r => r.getAs[Long]("activity_id") -> r).toMap
    val a1 = fe(1L)
    assert(a1.getAs[Double]("gct_average") === 230.0)
    assert(a1.getAs[Double]("gct_min") === 228.0 && a1.getAs[Double]("gct_max") === 232.0)
    // sample std of (228,232,230,230)
    val sd = math.sqrt(Seq(228.0, 232.0, 230.0, 230.0)
      .map(v => (v - 230.0) * (v - 230.0)).sum / 3)
    assert(math.abs(a1.getAs[Double]("gct_std") - sd) < 1e-12)
    assert(math.abs(a1.getAs[Double]("gct_variability") - sd / 230.0 * 100) < 1e-12)
    assert(a1.getAs[String]("gct_rating") === "★★★★☆")
    assert(a1.getAs[String]("gct_evaluation") === "Excellent (230ms, optimal range)")
    assert(a1.getAs[String]("vo_rating") === "★★★☆☆") // 8.2 in [8,10)
    assert(a1.getAs[String]("vo_evaluation")
      === "Good (8.2cm, target <8cm for optimal efficiency)")
    assert(a1.getAs[String]("vr_rating") === "★★★★☆") // 7.1 in [7,9)
    assert(a1.getAs[String]("vr_evaluation") === "Good (7.1%)")
    // vo_trend: CV < 5% and |change| < 3% -> Very stable / consistent
    assert(a1.getAs[String]("vo_trend").startsWith("Very stable (8.2cm avg, CV="))
    assert(a1.getAs[String]("vo_trend").endsWith("consistent)"))
    val a2 = fe(2L)
    assert(a2.getAs[String]("vo_trend") === "Insufficient data (2 splits)")
    assert(a2.getAs[Double]("gct_std") === 0.0) // stdev of equal values
    assert(a2.getAs[String]("gct_rating") === "★☆☆☆☆") // 300 >= 280
    assert(a2.getAs[String]("gct_evaluation") === "Too long (300ms, target <250ms)")
    assert(a2.getAs[String]("vo_rating") === "★☆☆☆☆") // 13 >= 12
    assert(a2.getAs[String]("vr_rating") === "★★☆☆☆") // 11 in [11,13)
    // schema contract
    assert(SilverTables.formEfficiency(splits).schema
      .map(f => (f.name, f.dataType))
      === Schemas.formEfficiency.map(f => (f.name, f.dataType)))
  }

  test("strength_sessions reader: date range + category_counts JSON parse") {
    import spark.implicits._
    import graft.ingest.StrengthSessions
    val rows = Seq(
      (10L, java.sql.Date.valueOf("2026-08-01"), """{"CRUNCH": 4, "PLANK": 7}"""),
      (11L, java.sql.Date.valueOf("2026-08-05"), null.asInstanceOf[String]),
      (12L, java.sql.Date.valueOf("2026-08-05"), "not json"),
      (13L, java.sql.Date.valueOf("2026-09-01"), """{"SQUAT": 3}"""))
      .toDF("activity_id", "activity_date", "category_counts")
      .withColumn("active_sets", lit(5))
      .withColumn("active_duration_seconds", lit(1200))
    val got = StrengthSessions.read(rows, "2026-08-01", "2026-08-31")
      .collect().map(r => r.getAs[Long]("activity_id") ->
        r.getAs[Map[String, Int]]("category_counts")).toMap
    assert(got.keySet === Set(10L, 11L, 12L)) // September row filtered
    assert(got(10L) === Map("CRUNCH" -> 4, "PLANK" -> 7))
    assert(got(11L) === Map.empty[String, Int]) // null -> {}
    assert(got(12L) === Map.empty[String, Int]) // unparseable -> {}
    val weekly = StrengthSessions.weeklyLoad(rows).collect()
    assert(weekly.map(_.getAs[Long]("n_sessions")).sum === 4L)
  }
}
