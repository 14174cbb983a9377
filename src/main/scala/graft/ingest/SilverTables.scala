package graft.ingest

import graft.domain.Performance
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-activity silver tables derived at ingest (SURVEY §2.9):
  * performance_trends (structure-aware HR drift + pace consistency) and
  * hr_efficiency (zone distribution + intensity-category resolution).
  * Rules from reference inserters/performance_trends.py and
  * inserters/hr_efficiency.py.
  */
object SilverTables {

  /** performance_trends: one row per activity, from one clustering of the
    * laps on activity_id: a window gives each lap its activity's median run
    * distance, then one aggregate carries the pace CVs, the phase-wide
    * stats and the ordered lap list the sequential drift rule folds over.
    * Pace consistency is the fragment-robust CV over run laps (laps below
    * 0.5x the median distance are GPS fragments).
    */
  def performanceTrends(splits: DataFrame): DataFrame = {
    val isRun =
      upper(col("intensity_type")).isin(Performance.WorkIntensities.toSeq: _*)
    // _cv semantics (performance_trends.py:62-73): None on no paces, 0.0 on
    // a single pace, stdev/mean otherwise (None when mean <= 0). The
    // representative set (py:76-104) needs pace AND distance non-null and
    // distance >= 0.5×median; when fewer than 2 survive — or no lap has a
    // distance at all (med_dist null makes is_rep null→false) — fall back
    // to the CV over ALL run paces (ADVICE r1 medium).
    val pace = col("pace_seconds_per_km")
    val runPace = when(isRun, pace)
    val repPace = when(isRun && pace.isNotNull && col("distance").isNotNull &&
      col("distance") >= col("med_dist") * 0.5, pace)
    def cvOf(n: Column, sd: Column, mean: Column): Column =
      when(n === 0, lit(null).cast("double"))
        .when(n === 1, lit(0.0))
        .when(mean <= 0.0, lit(null).cast("double"))
        .otherwise(sd / mean)
    val allCv = cvOf(col("n_all"), col("all_sd"), col("all_mean"))
    val drift = udf { laps: Seq[Row] =>
      val ls = laps.map(l => Performance.Lap(Option(l.getString(1)),
        SplitsEnrich.optDouble(l, 2), SplitsEnrich.optDouble(l, 3)))
      (Performance.classifyWorkoutStructure(ls), Performance.hrDrift(ls))
    }
    val aggs = Seq(
      count(repPace).as("n_rep"), stddev(repPace).as("rep_sd"),
      avg(repPace).as("rep_mean"),
      count(runPace).as("n_all"), stddev(runPace).as("all_sd"),
      avg(runPace).as("all_mean"),
      sort_array(collect_list(struct(col("split_index"), col("intensity_type"),
        pace.cast("double"), col("heart_rate").cast("double")))).as("laps")) ++
      phaseWide
    val perActivity = splits
      .withColumn("med_dist",
        median(when(isRun, col("distance"))).over(Window.partitionBy("activity_id")))
      .groupBy("activity_id")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("drift", drift(col("laps")))
    graft.Schemas.conform(
      perActivity.select(col("*") +:
        col("drift._1").as("workout_structure") +:
        col("drift._2").as("hr_drift_percentage") +:
        when(col("n_rep") >= 2,
          cvOf(col("n_rep"), col("rep_sd"), col("rep_mean")))
          .otherwise(allCv).as("pace_consistency") +:
        allCv.as("pace_consistency_full") +:
        Phases.map { p =>
          paceStr(col(s"${p}_avg_pace_seconds_per_km")).as(s"${p}_avg_pace_str")
        }: _*)
        .transform(withPhaseEvaluations),
      "performance_trends")
  }

  /** M:SS pace string (performance_trends.py:503-508 format_pace). */
  private def paceStr(p: Column): Column =
    when(p.isNotNull, format_string("%d:%02d",
      floor(p / 60.0).cast("long"), floor(p % 60.0).cast("long")))

  // Python truthiness (`if distance_km and duration:`): non-null, non-zero.
  private def truthy(c: Column): Column = c.isNotNull && c =!= 0.0

  private val Phases = Seq("warmup", "run", "recovery", "cooldown")

  /** Per-activity wide phase stats (performance_trends.py:217-330): for each
    * of warmup/run/recovery/cooldown — the lap list, distance-weighted avg
    * pace (= total time / total distance over laps with a valid pace), and
    * time-weighted avg HR / cadence / power (per-time rates weighted by lap
    * duration; plain mean fallback when no lap carries a usable weight). HR
    * is rounded to 1 dp half-even like the reference's round(). Conditional
    * aggregate columns for the per-activity aggregate — no pivot per phase.
    *
    * The reference recomputes phase pace as duration/distance_km rather
    * than reading the lap's averageSpeed-derived pace; mirrored here.
    */
  private def phaseWide: Seq[Column] = {
    val distKm = col("distance") / 1000.0
    val dur = col("duration_seconds")
    val refPace = when(truthy(distKm) && truthy(dur), dur / distKm)
    // _duration_of (py:273-280): the recorded duration; the pace*distance
    // fallback can never fire here because a null/zero duration implies a
    // null pace, so the weight is simply the truthy duration.
    val w = when(truthy(dur), dur)
    // phase from intensity_type (PhaseMapper), not the stored role_phase —
    // the writer then accepts bronze-shaped lap frames too
    val rp = SplitsEnrich.rolePhase(col("intensity_type"))

    def phase(p: String) = {
      def inPhase(c: Column) = when(rp === p, c)
      val sumPd = sum(inPhase(when(refPace.isNotNull && truthy(distKm),
        refPace * distKm)))
      val sumD = sum(inPhase(when(refPace.isNotNull && truthy(distKm), distKm)))
      def timeWeighted(v: Column): Column = {
        val pairs = count(inPhase(when(v.isNotNull && w.isNotNull, lit(1))))
        val vw = sum(inPhase(when(v.isNotNull && w.isNotNull, v * w)))
        val ww = sum(inPhase(when(v.isNotNull && w.isNotNull, w)))
        val fallback = avg(inPhase(v))
        when(pairs > 0, when(ww =!= 0.0, vw / ww)).otherwise(fallback)
      }
      Seq(
        when(count(inPhase(lit(1))) > 0,
          array_join(transform(
            sort_array(collect_list(inPhase(col("split_index")))),
            _.cast("string")), ","))
          .as(s"${p}_splits"),
        when(truthy(sumD), sumPd / sumD).as(s"${p}_avg_pace_seconds_per_km"),
        bround(timeWeighted(col("heart_rate")), 1).as(s"${p}_avg_hr"),
        timeWeighted(col("cadence")).as(s"${p}_avg_cadence"),
        timeWeighted(col("power")).as(s"${p}_avg_power"))
    }

    Phases.flatMap(phase)
  }

  /** Phase evaluation strings + the reference's fixed cadence/fatigue
    * labels (performance_trends.py:362-452). A phase "exists" when it has
    * at least one lap (its `_splits` string is non-null).
    */
  private def withPhaseEvaluations(df: DataFrame): DataFrame = {
    import graft.domain.Labels
    df
      .withColumn("warmup_evaluation", Labels.warmupEvaluation(
        col("warmup_splits").isNotNull,
        col("warmup_avg_hr"), col("warmup_avg_pace_seconds_per_km")))
      .withColumn("run_evaluation", Labels.runEvaluation(
        col("run_splits").isNotNull,
        col("run_avg_hr"), col("run_avg_pace_seconds_per_km"),
        col("pace_consistency")))
      .withColumn("recovery_evaluation", Labels.recoveryEvaluation(
        col("recovery_splits").isNotNull, col("run_splits").isNotNull,
        col("recovery_avg_hr"), col("recovery_avg_cadence"),
        col("run_avg_hr"), col("run_avg_cadence")))
      .withColumn("cooldown_evaluation", Labels.cooldownEvaluation(
        col("cooldown_splits").isNotNull,
        col("cooldown_avg_hr"), col("cooldown_avg_pace_seconds_per_km")))
      // simplified constants, exactly as the reference writes them (:451-452)
      .withColumn("cadence_consistency", lit("安定"))
      .withColumn("fatigue_pattern", lit("適切"))
  }

  private val canonicalCategory: org.apache.spark.sql.Column = {
    val t = lower(col("training_type"))
    when(t.isNull, "unknown")
      .when(t.isin("aerobic_base", "recovery", "low_moderate", "base",
        "warmup", "easy"), "easy")
      .when(t.isin("tempo", "tempo_run"), "tempo")
      .when(t.isin("lactate_threshold", "threshold_work", "threshold"), "threshold")
      .when(t.isin("vo2max", "vo2_max", "anaerobic_capacity", "anaerobic",
        "interval_sprint", "speed", "sprint"), "vo2max")
      .otherwise("unknown")
  }

  /** hr_efficiency: per-zone % of total time + intensity category. The
    * category starts from the canonical training-type label and is refined
    * by the actual distribution: a Zone3-dominant (primary zone 3,
    * zone3 >= 50 %) easy/unknown run with zone4+5 < 15 % is a controlled
    * MODERATE effort, not a failed easy run (reference
    * hr_efficiency.py:57-91).
    */
  def hrEfficiency(hrZones: DataFrame, activities: DataFrame): DataFrame = {
    val w = Window.partitionBy("activity_id")
    val pcts = hrZones
      .withColumn("total", sum("secs_in_zone").over(w))
      .withColumn("pct",
        when(col("total") > 0,
          round(col("secs_in_zone") / col("total") * 100.0, 2)).otherwise(0.0))
      .groupBy("activity_id")
      .agg(
        max(when(col("zone_number") === 1, col("pct"))).as("zone1_pct"),
        max(when(col("zone_number") === 2, col("pct"))).as("zone2_pct"),
        max(when(col("zone_number") === 3, col("pct"))).as("zone3_pct"),
        max(when(col("zone_number") === 4, col("pct"))).as("zone4_pct"),
        max(when(col("zone_number") === 5, col("pct"))).as("zone5_pct"),
        max_by(col("zone_number"), col("secs_in_zone")).as("primary_zone_num"))
    val joined = pcts.join(
      broadcast(activities.select(col("activity_id"), col("training_type"))),
      Seq("activity_id"), "left")
    val refined =
      when(canonicalCategory.isin("easy", "unknown") &&
          col("primary_zone_num") === 3 &&
          col("zone3_pct") >= 50.0 &&
          (col("zone4_pct") + col("zone5_pct")) < 15.0, "moderate")
        .otherwise(canonicalCategory)
    graft.Schemas.conform(
      joined.withColumn("intensity_category", refined)
        .withColumn("zone_distribution_rating",
          zoneDistributionRating(col("intensity_category"),
            col("zone1_pct"), col("zone2_pct"), col("zone3_pct"),
            col("zone4_pct"), col("zone5_pct"))),
      "hr_efficiency")
  }

  /** Per-category zone-band scoring (reference hr_efficiency.py:190-259):
    * each intensity category is judged against its own correct HR-zone
    * band — easy on Zone1-2 (staying low = success), moderate on the
    * aerobic Zone2-3 band, tempo/threshold on Zone3-4, vo2max on Zone4-5;
    * unknown stays neutral (never rated Poor).
    */
  def zoneDistributionRating(category: Column, z1: Column, z2: Column,
      z3: Column, z4: Column, z5: Column): Column = {
    def bands(pct: Column, t: (Int, Int, Int)): Column =
      when(pct >= t._1, "Excellent")
        .when(pct >= t._2, "Good")
        .when(pct >= t._3, "Fair")
        .otherwise("Poor")
    when(category === "easy", bands(z1 + z2, (90, 75, 60)))
      .when(category === "moderate", bands(z2 + z3, (80, 60, 40)))
      .when(category.isin("tempo", "threshold"), bands(z3 + z4, (60, 40, 20)))
      .when(category === "vo2max", bands(z4 + z5, (50, 30, 15)))
      .otherwise(when(z1 + z2 + z3 >= 70.0, "Good").otherwise("Fair"))
  }

  /** form_evaluations: per-activity observation scored against the trained
    * baselines (reference form_baseline/evaluator.py wiring:
    * predictor expectations -> scorer deltas/penalties -> one row per
    * activity). Model coefficients are driver-side scalars (they came out
    * of the monthly trainer), so the scoring is pure column math — no
    * collect of observations.
    */
  def formEvaluations(observations: DataFrame,
      gct: graft.domain.FormBaseline.GctPowerModel,
      vo: graft.domain.FormBaseline.LinearModel,
      vr: graft.domain.FormBaseline.LinearModel,
      evaluatedAt: java.sql.Timestamp): DataFrame = {
    val speed = lit(1000.0) / col("pace_seconds_per_km")
    // expectations from the models, inlined as column math
    val gctExp = exp((log(speed) - lit(gct.alpha)) / lit(gct.d)) // predictInverse
    val voExp = lit(vo.a) + lit(vo.b) * speed
    val vrExp = lit(vr.a) + lit(vr.b) * speed
    val gctDelta = (col("gct_ms") - gctExp) / gctExp * 100.0
    val voDelta = (col("vo_cm") - voExp) / voExp * 100.0
    val vrDelta = (col("vr_pct") - vrExp) / vrExp * 100.0
    def penalty(delta: org.apache.spark.sql.Column, improveFactor: Double) = {
      val factor = when(delta < 0, improveFactor).otherwise(1.0)
      least(lit(100.0), greatest(lit(0.0), abs(delta) * factor * 10.0))
    }
    val pg = penalty(gctDelta, 0.3)
    val pv = penalty(voDelta, 0.3)
    val pr = penalty(vrDelta, 0.2)
    val spreadMax = greatest(gctDelta, voDelta, vrDelta)
    val spreadMin = least(gctDelta, voDelta, vrDelta)
    val spread = spreadMax - spreadMin
    val adjustment =
      when(spreadMax <= 0,
        least(lit(5.0), abs(gctDelta + voDelta + vrDelta) / 3.0 * 0.5))
        .when(spread > 15.0, -10.0)
        .when(spread > 10.0, -5.0)
        .when(spread > 5.0, -2.0)
        .otherwise(0.0)
    val score = greatest(lit(0.0), least(lit(100.0),
      lit(100.0) - (pg + pv + pr) / 3.0 + adjustment))
    graft.Schemas.conform(
      observations.select(
        col("activity_id"),
        lit(evaluatedAt).as("evaluated_at"),
        gctDelta.as("gct_delta_pct"), pg.as("gct_penalty"),
        voDelta.as("vo_delta_pct"), pv.as("vo_penalty"),
        vrDelta.as("vr_delta_pct"), pr.as("vr_penalty"),
        score.as("score"),
        (pg > 20.0).as("gct_needs_improvement"),
        (pv > 20.0).as("vo_needs_improvement"),
        (pr > 20.0).as("vr_needs_improvement")),
      "form_evaluations")
  }

  // Python "%.1f"/"%.0f" format half-even; bround first so the Java
  // formatter (half-up) sees an already-rounded value.
  private def fmt1(c: Column): Column = format_string("%.1f", bround(c, 1))
  private def fmt0(c: Column): Column = format_string("%.0f", bround(c, 0))

  /** Fixed-threshold star rating (form_efficiency.py:18-67,
    * thresholds from garmin_worker.py:892-910). Lower is better for all
    * three metrics.
    */
  def formRating(metric: String, value: Column): Column = {
    val t: Seq[Double] = metric match {
      case "gct" => Seq(220, 240, 260, 280)
      case "vo"  => Seq(6.5, 8.0, 10.0, 12.0)
      case "vr"  => Seq(7.0, 9.0, 11.0, 13.0)
    }
    when(value < t(0), "★★★★★")
      .when(value < t(1), "★★★★☆")
      .when(value < t(2), "★★★☆☆")
      .when(value < t(3), "★★☆☆☆")
      .otherwise("★☆☆☆☆")
  }

  /** GCT quality text (form_efficiency.py:70-102): byte-exact strings with
    * the truncated-int millisecond value.
    */
  def gctEvaluation(avg: Column): Column = {
    val ms = avg.cast("int")
    when(avg.isNull, lit(null).cast("string"))
      .when(avg >= 200 && avg <= 250,
        format_string("Excellent (%dms, optimal range)", ms))
      .when((avg >= 180 && avg < 200) || (avg > 250 && avg <= 280),
        format_string("Good (%dms)", ms))
      .when(avg < 180,
        format_string("Too short (%dms, may indicate overstriding)", ms))
      .otherwise(format_string("Too long (%dms, target <250ms)", ms))
  }

  /** VO quality text (form_efficiency.py:105-135). */
  def voEvaluation(avg: Column): Column =
    when(avg.isNull, lit(null).cast("string"))
      .when(avg < 8, format_string("Excellent (%scm, minimal bounce)", fmt1(avg)))
      .when(avg < 10, format_string(
        "Good (%scm, target <8cm for optimal efficiency)", fmt1(avg)))
      .when(avg < 12, format_string("Acceptable (%scm, reduce bounce)", fmt1(avg)))
      .otherwise(format_string(
        "Poor (%scm, excessive vertical movement)", fmt1(avg)))

  /** VR quality text (form_efficiency.py:138-168). */
  def vrEvaluation(avg: Column): Column =
    when(avg.isNull, lit(null).cast("string"))
      .when(avg < 6, format_string("Excellent (%s%%, optimal efficiency)", fmt1(avg)))
      .when(avg < 8, format_string("Good (%s%%)", fmt1(avg)))
      .when(avg < 10, format_string(
        "Acceptable (%s%%, room for improvement)", fmt1(avg)))
      .otherwise(format_string("Poor (%s%%, high energy waste)", fmt1(avg)))

  /** form_efficiency: one row per activity aggregated from splits
    * (reference inserters/form_efficiency.py, 431 LoC; schema
    * duckdb_schema_mapping.md §6). Per metric: avg / min / max / SAMPLE std
    * (0.0 for a single lap, like statistics.stdev guarded at py:311),
    * star rating + evaluation text on the average, gct_variability =
    * std/avg·100 when both are truthy, and the vo_trend consistency
    * narrative (py:171-242) from the ordered split series. One clustering
    * on activity_id: a window ranks each lap among its activity's non-null
    * VO rows, then one aggregate holds the stats and both VO halves.
    */
  def formEfficiency(splits: DataFrame): DataFrame = {
    def stats(src: String, out: String) = {
      val v = col(src)
      val cnt = count(v)
      Seq(
        avg(v).as(s"${out}_average"), min(v).as(s"${out}_min"),
        max(v).as(s"${out}_max"),
        when(cnt > 1, stddev_samp(v)).when(cnt === 1, 0.0).as(s"${out}_std"))
    }
    // vo_trend inputs: the ordered non-null VO series per activity; mid =
    // n//2, first half = ranks 1..mid, population std for the CV
    // (py:216-218). A running count of VO is the lap's rank in that series.
    val vo = col("vertical_oscillation")
    val w = Window.partitionBy("activity_id").orderBy("split_index")
    val mid = floor(col("n_vo_lap") / 2)
    val aggs = stats("ground_contact_time", "gct") ++
      stats("vertical_oscillation", "vo") ++
      stats("vertical_ratio", "vr") ++ Seq(
        count(vo).as("n_vo"),
        stddev_pop(vo).as("vo_pstd"),
        avg(when(col("vo_rank") <= mid, vo)).as("first_avg"),
        avg(when(col("vo_rank") > mid, vo)).as("second_avg"))
    val perActivity = splits
      .withColumn("vo_rank", count(vo).over(w))
      .withColumn("n_vo_lap", count(vo).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("activity_id").agg(aggs.head, aggs.tail: _*)
      .withColumn("cv", col("vo_pstd") / col("vo_average") * 100.0)
      .withColumn("change_pct",
        (col("second_avg") - col("first_avg")) / col("first_avg") * 100.0)
    val consistency =
      when(col("cv") < 5, "Very stable")
        .when(col("cv") < 10, "Stable")
        .otherwise("Variable")
    val trendTxt =
      when(abs(col("change_pct")) < 3, lit("consistent"))
        .when(col("change_pct") > 0, format_string(
          "increasing (+%s%%, fatigue indicator)", fmt1(col("change_pct"))))
        .otherwise(format_string("decreasing (%s%%)", fmt1(col("change_pct"))))
    // no VO row at all: no trend, not "Insufficient data (0 splits)"
    val voTrend = when(col("n_vo") > 0,
      when(col("n_vo") < 3,
        format_string("Insufficient data (%d splits)", col("n_vo")))
        .otherwise(format_string("%s (%scm avg, CV=%s%%, %s)",
          consistency, fmt1(col("vo_average")), fmt0(col("cv")), trendTxt)))

    graft.Schemas.conform(
      perActivity.withColumn("vo_trend", voTrend)
        .withColumn("gct_variability",
          when(truthy(col("gct_average")) && truthy(col("gct_std")),
            col("gct_std") / col("gct_average") * 100.0))
        .withColumn("gct_rating",
          when(col("gct_average").isNotNull,
            formRating("gct", col("gct_average"))))
        .withColumn("vo_rating",
          when(col("vo_average").isNotNull,
            formRating("vo", col("vo_average"))))
        .withColumn("vr_rating",
          when(col("vr_average").isNotNull,
            formRating("vr", col("vr_average"))))
        .withColumn("gct_evaluation", gctEvaluation(col("gct_average")))
        .withColumn("vo_evaluation", voEvaluation(col("vo_average")))
        .withColumn("vr_evaluation", vrEvaluation(col("vr_average"))),
      "form_efficiency")
  }
}
