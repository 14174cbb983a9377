package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver-layer split enrichment: the reference's "filter at ingest"
  * derivations (SURVEY.md §2.9; rules from
  * pkg/database/inserters/splits_helpers — semantics preserved
  * byte-exactly including the Japanese terrain labels, re-expressed as
  * codegen'd `when`-chains).
  *
  * Everything here is a narrow map over the splits scan except:
  *  - `withHrZone`: broadcast join against the 5-rows-per-activity zone
  *    table (never a shuffle of splits);
  *  - `estimateIntensity`: the one genuinely sequential rule (each label
  *    depends on the previous assigned label) — one window over
  *    activity_id carries each lap its activity's sorted lap list, from
  *    which a UDF folds this lap's label; ≤ ~40 laps per activity, so the
  *    payload is tiny and fully parallel across activities (SURVEY.md §7.2).
  */
object SplitsEnrich {

  // ---- cadence_rating (splits_helpers/cadence_power.py:8-31) ----
  def cadenceRating(cadence: Column): Column = {
    val c = cadence.cast("int")
    when(cadence.isNull, lit(null))
      .when(cadence < 170, format_string("Low (%d spm, target 180+)", c))
      .when(cadence < 180, format_string("Good (%d spm)", c))
      .when(cadence < 190, format_string("Excellent (%d spm)", c))
      .otherwise(format_string("Elite (%d spm)", c))
  }

  // ---- power_efficiency (cadence_power.py:33-58) ----
  def powerEfficiency(power: Column, weightKg: Column): Column = {
    val wkg = power / weightKg
    when(power.isNull || weightKg.isNull, lit(null))
      .when(wkg < 2.5, format_string("Low (%.1f W/kg)", wkg))
      .when(wkg < 3.5, format_string("Moderate (%.1f W/kg)", wkg))
      .when(wkg < 4.5, format_string("Good (%.1f W/kg)", wkg))
      .otherwise(format_string("Excellent (%.1f W/kg)", wkg))
  }

  // ---- terrain_type (splits_helpers/terrain.py:8-28) ----
  def terrainType(gain: Column, loss: Column): Column = {
    val total = abs(coalesce(gain, lit(0.0))) + abs(coalesce(loss, lit(0.0)))
    when(total < 5, "平坦")
      .when(total < 15, "起伏")
      .when(total < 30, "丘陵")
      .otherwise("山岳")
  }

  // ---- role_phase (splits_helpers/phase_mapping.py:8-33) ----
  def rolePhase(intensityType: Column): Column =
    when(upper(intensityType) === "WARMUP", "warmup")
      .when(upper(intensityType).isin("INTERVAL", "ACTIVE"), "run")
      .when(upper(intensityType) === "RECOVERY", "recovery")
      .when(upper(intensityType) === "COOLDOWN", "cooldown")
      .otherwise(lit(null))

  // ---- environmental_conditions (environmental.py:8-56) ----
  def environmentalConditions(temp: Column, wind: Column, humidity: Column): Column = {
    val tempPart =
      when(temp < 10, format_string("Cold (%d°C)", temp.cast("int")))
        .when(temp < 18, format_string("Cool (%d°C)", temp.cast("int")))
        .when(temp < 25, format_string("Mild (%d°C)", temp.cast("int")))
        .otherwise(format_string("Hot (%d°C)", temp.cast("int")))
    val windPart =
      when(wind.isNull, lit(null))
        .when(wind < 5, lit("Calm"))
        .when(wind < 15, format_string("Breezy (%d km/h)", wind.cast("int")))
        .otherwise(format_string("Windy (%d km/h)", wind.cast("int")))
    val humPart =
      when(humidity.isNull, lit(null))
        .when(humidity > 80, format_string("Humid (%d%%)", humidity.cast("int")))
        .when(humidity < 30, format_string("Dry (%d%%)", humidity.cast("int")))
        .otherwise(lit(null))
    when(temp.isNull, lit(null))
      .otherwise(concat_ws(", ", tempPart, windPart, humPart))
  }

  // ---- wind_impact (environmental.py:58-95) ----
  def windImpact(windSpeed: Column, windDir: Column): Column = {
    val w = windSpeed.cast("int")
    when(windSpeed.isNull, lit(null))
      .when(windSpeed < 5, lit("Minimal (<5 km/h)"))
      .when(windSpeed < 15,
        when(windDir.isNull, format_string("Moderate (%d km/h)", w))
          .when(windDir < 45 || windDir > 315,
            format_string("Moderate headwind (%d km/h)", w))
          .when(windDir > 135 && windDir < 225,
            format_string("Moderate tailwind (%d km/h)", w))
          .otherwise(format_string("Moderate crosswind (%d km/h)", w)))
      .otherwise(format_string("Significant (%d km/h, pace impact expected)", w))
  }

  // ---- temp_impact (environmental.py:97-131) ----
  def tempImpact(temp: Column, trainingType: Column): Column = {
    val t = temp.cast("int")
    val recovery =
      when(temp >= 15 && temp <= 22, format_string("Good (%d°C)", t))
        .when((temp >= 10 && temp < 15) || (temp > 22 && temp <= 25),
          format_string("Acceptable (%d°C)", t))
        .when(temp < 10, format_string("Cold (%d°C)", t))
        .otherwise(format_string("Hot (%d°C)", t))
    val base =
      when(temp >= 10 && temp <= 18, format_string("Ideal (%d°C)", t))
        .when(temp > 18 && temp <= 23, format_string("Acceptable (%d°C)", t))
        .when(temp < 10, format_string("Cool (%d°C)", t))
        .otherwise(format_string("Hot (%d°C, hydration important)", t))
    val interval =
      when(temp >= 8 && temp <= 15, format_string("Ideal (%d°C)", t))
        .when(temp > 15 && temp <= 20, format_string("Good (%d°C)", t))
        .when(temp > 20 && temp <= 25,
          format_string("Warm (%d°C, performance may decrease)", t))
        .when(temp < 8, format_string("Cold (%d°C, longer warmup needed)", t))
        .otherwise(format_string("Too hot (%d°C, consider rescheduling)", t))
    when(temp.isNull, lit(null))
      .when(trainingType.isin("recovery", "low_moderate"), recovery)
      .when(trainingType.isin("base", "tempo_threshold"), base)
      .otherwise(interval)
  }

  // ---- environmental_impact (environmental.py:133-183) ----
  def environmentalImpact(tempImpact: Column, windImpact: Column,
      gain: Column, loss: Column): Column = {
    val tempScore =
      when(tempImpact.isNull, 0)
        .when(tempImpact.contains("Too hot") || tempImpact.contains("Cold"), 3)
        .when(tempImpact.contains("Hot") || tempImpact.contains("Cool"), 2)
        .when(tempImpact.contains("Warm"), 1)
        .otherwise(0)
    val windScore =
      when(windImpact.isNull, 0)
        .when(windImpact.contains("Significant"), 2)
        .when(windImpact.contains("Moderate"), 1)
        .otherwise(0)
    val elev = abs(coalesce(gain, lit(0.0))) + abs(coalesce(loss, lit(0.0)))
    val elevScore = when(elev > 100, 2).when(elev > 50, 1).otherwise(0)
    val score = tempScore + windScore + elevScore
    when(score === 0, "Ideal conditions")
      .when(score <= 2, "Good conditions")
      .when(score <= 4, "Moderate challenge")
      .when(score <= 5, "Challenging conditions")
      .otherwise("Extreme conditions")
  }

  /** hr_zone via the per-activity zone table (hr_calculations.py:8-44):
    * "Zone N" when lower <= hr <= upper (upper = next zone's lower; last
    * zone unbounded above is handled by the explicit > last check),
    * "Zone 0 (Recovery)" below zone 1, "Zone 5+ (Max)" above zone 5.
    */
  def withHrZone(splits: DataFrame, hrZones: DataFrame): DataFrame = {
    val w = Window.partitionBy("activity_id").orderBy("zone_number")
    val bounds = hrZones
      .withColumn("upper_bpm", lead(col("lower_bpm"), 1).over(w))
      .groupBy("activity_id")
      .agg(collect_list(struct(col("zone_number"), col("lower_bpm"),
        col("upper_bpm"))).as("zones"),
        min("lower_bpm").as("z_min"), max("lower_bpm").as("z_last_lower"))
    splits.join(broadcast(bounds), Seq("activity_id"), "left")
      .withColumn("matched", expr(
        """filter(zones, z -> heart_rate >= z.lower_bpm AND
          |  (z.upper_bpm IS NULL OR heart_rate <= z.upper_bpm))""".stripMargin))
      .withColumn("hr_zone",
        when(col("heart_rate").isNull || col("zones").isNull, lit(null))
          .when(col("heart_rate") < col("z_min"), lit("Zone 0 (Recovery)"))
          .when(size(col("matched")) > 0,
            format_string("Zone %d", expr("matched[0].zone_number")))
          .when(col("heart_rate") > col("z_last_lower"), lit("Zone 5+ (Max)"))
          .otherwise(lit(null)))
      .drop("zones", "matched", "z_min", "z_last_lower")
  }

  /** Sequential intensity estimation (phase_mapping.py:35-106, 92.7 %
    * validated): WARMUP for the first 1–2, COOLDOWN for the last 1–2,
    * RECOVERY when pace > 400 after work, INTERVAL on fast pace / high HR,
    * else ACTIVE. Label depends on the previously *assigned* label, so the
    * per-activity lap list is folded sequentially.
    */
  def estimateIntensity(laps: Seq[(Option[Double], Option[Double])]): Seq[String] = {
    val total = laps.length
    if (total == 0) return Seq.empty
    if (total == 1) return Seq("ACTIVE")
    val hrs = laps.flatMap(_._1)
    val paces = laps.flatMap(_._2)
    val avgHr = if (hrs.nonEmpty) hrs.sum / hrs.size else 0.0
    val avgPace = if (paces.nonEmpty) paces.sum / paces.size else 0.0
    if (avgHr == 0 && avgPace == 0) return Seq.fill(total)("ACTIVE")
    val warmupCount = if (total > 6) 2 else 1
    val cooldownCount = if (total > 6) 2 else 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    laps.zipWithIndex.foreach { case ((hr, pace), idx) =>
      val position = idx + 1
      val label =
        if (position <= warmupCount) "WARMUP"
        else if (position > total - cooldownCount) "COOLDOWN"
        else if (pace.exists(_ > 400) && idx > 0 &&
            Seq("INTERVAL", "RECOVERY").contains(out(idx - 1))) "RECOVERY"
        else if (pace.exists(_ < avgPace * 0.90) || hr.exists(_ > avgHr * 1.1)) "INTERVAL"
        else "ACTIVE"
      out += label
    }
    out.toSeq
  }

  /** Field `i` of a lap struct a UDF receives. */
  private[ingest] def optDouble(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** Fills missing intensity_type per activity using [[estimateIntensity]].
    * Runs only over activities where every split lacks a label (matching
    * the reference, which estimates per-activity when Garmin omits them).
    */
  def withEstimatedIntensity(splits: DataFrame): DataFrame = {
    val label = udf { (laps: Seq[Row], splitIndex: Int) =>
      val labels = estimateIntensity(laps.map(l => (optDouble(l, 1), optDouble(l, 2))))
      labels(laps.indexWhere(_.getInt(0) == splitIndex))
    }
    val w = Window.partitionBy("activity_id")
    val laps = sort_array(collect_list(struct(col("split_index"),
      col("heart_rate").cast("double"),
      col("pace_seconds_per_km").cast("double"))).over(w))
    splits.withColumn("intensity_type",
      coalesce(col("intensity_type"),
        when(!max(col("intensity_type").isNotNull).over(w),
          label(laps, col("split_index")))))
  }

  /** Full enrichment: all derived columns over bronze splits + zones +
    * weather + the activity's training_type (for temp bands) and a body
    * weight for W/kg. One broadcast join per small side; splits stay
    * partition-resident.
    */
  def enrich(splits: DataFrame, hrZones: DataFrame,
      weather: DataFrame, activities: DataFrame,
      weightKg: Double = 60.0): DataFrame = {
    val withIntensity = withEstimatedIntensity(splits)
    val zoned = withHrZone(withIntensity, hrZones)
    val joined = zoned
      .join(broadcast(weather), Seq("activity_id"), "left")
      .join(broadcast(activities.select(col("activity_id"), col("training_type"))),
        Seq("activity_id"), "left")
    val ti = tempImpact(col("temp_celsius"), col("training_type"))
    val wi = windImpact(col("wind_kmh"), col("wind_direction_deg"))
    joined
      .withColumn("role_phase", rolePhase(col("intensity_type")))
      .withColumn("cadence_rating", cadenceRating(col("cadence")))
      .withColumn("power_efficiency", powerEfficiency(col("power"), lit(weightKg)))
      .withColumn("terrain_type",
        terrainType(col("elevation_gain"), col("elevation_loss")))
      .withColumn("environmental_conditions",
        environmentalConditions(col("temp_celsius"), col("wind_kmh"),
          col("humidity_pct")))
      .withColumn("wind_impact", wi)
      .withColumn("temp_impact", ti)
      .withColumn("environmental_impact",
        environmentalImpact(ti, wi, col("elevation_gain"), col("elevation_loss")))
      .drop("temp_celsius", "humidity_pct", "wind_kmh", "wind_direction_deg",
        "wind_compass", "training_type")
  }
}
