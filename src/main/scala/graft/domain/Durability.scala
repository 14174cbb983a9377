package graft.domain

import graft.functions.StudentT
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Long-run durability analytics (reference readers/durability.py:95-215
  * get_activity_durability, :368-471 _build_trend/_classify_band/
  * _build_absolute_assessment, :311-356 _build_durability_ranking).
  *
  * Spark-first shape: the reference loops get_activity_durability one
  * SQLite query per activity id; here EVERY activity's midpoint split is
  * one plan over one clustering on activity_id (a min/max bounds window,
  * then the halves aggregate), and the whole trend block is a second 1-row
  * aggregate — nothing is per-activity on the driver, so the same code
  * runs a 10-activity window and a 10-million-activity corpus.
  */
object Durability {

  /** Absolute durability bands (durability.py _STRONG/_MODERATE_BAND_MAX). */
  val StrongBandMax = 5.0
  val ModerateBandMax = 10.0

  /** Per-activity midpoint-split durability over a time-series frame with
    * columns (activity_id, timestamp_s, heart_rate, speed,
    * ground_contact_time, vertical_oscillation, vertical_ratio):
    * decoupling_pct of the HR/speed efficiency ratio, pace_fade_pct, and
    * the three form fades. Mirrors the reference's filters exactly: rows
    * need HR + speed > 0; form metrics average over the SAME midpoint
    * split but are NOT in the row filter (older devices lack them); an
    * activity drops out (reference: returns None) when any HR/speed half
    * average is missing or non-positive, or the time span is empty. The
    * bounds are a window over the same clustering the halves aggregate
    * uses, as in [[graft.operators.Aggregates.conditionalHalves]].
    */
  def perActivity(ts: DataFrame): DataFrame = {
    val w = Window.partitionBy("activity_id")
    def firstAvg(c: String) = avg(when(col("timestamp_s") < col("mid"), col(c)))
    def secondAvg(c: String) = avg(when(col("timestamp_s") >= col("mid"), col(c)))
    val halves = ts.where(col("heart_rate").isNotNull &&
        col("speed").isNotNull && col("speed") > 0)
      .withColumn("t0", min("timestamp_s").over(w))
      .withColumn("t1", max("timestamp_s").over(w))
      .where(col("t1") > col("t0"))
      .withColumn("mid", (col("t0") + col("t1")) / 2.0)
      .groupBy("activity_id")
      .agg(
        firstAvg("heart_rate").as("front_hr"),
        secondAvg("heart_rate").as("back_hr"),
        firstAvg("speed").as("front_speed"),
        secondAvg("speed").as("back_speed"),
        firstAvg("ground_contact_time").as("front_gct"),
        secondAvg("ground_contact_time").as("back_gct"),
        firstAvg("vertical_oscillation").as("front_vo"),
        secondAvg("vertical_oscillation").as("back_vo"),
        firstAvg("vertical_ratio").as("front_vr"),
        secondAvg("vertical_ratio").as("back_vr"))
    // (back/front - 1)·100, null when a half is absent or front <= 0
    def fade(front: Column, back: Column): Column =
      when(front.isNotNull && back.isNotNull && front > 0,
        round((back / front - 1.0) * 100.0, 2))
    halves
      .where(col("front_hr").isNotNull && col("back_hr").isNotNull &&
        col("front_speed").isNotNull && col("back_speed").isNotNull &&
        col("front_speed") > 0 && col("back_speed") > 0 && col("front_hr") > 0)
      .select(col("activity_id"),
        round((try_divide(col("back_hr") / col("back_speed"),
          col("front_hr") / col("front_speed")) - 1.0) * 100.0, 2)
          .as("decoupling_pct"),
        // pace = 1/speed, so back_pace/front_pace = front_speed/back_speed
        round((col("front_speed") / col("back_speed") - 1.0) * 100.0, 2)
          .as("pace_fade_pct"),
        fade(col("front_gct"), col("back_gct")).as("gct_fade_pct"),
        fade(col("front_vo"), col("back_vo")).as("vo_fade_pct"),
        fade(col("front_vr"), col("back_vr")).as("vr_fade_pct"))
  }

  /** `<5 %` strong, `5–10 %` moderate, `>=10 %` poor (lower is better). */
  def bandOf(decoupling: Column): Column =
    when(decoupling < StrongBandMax, "strong")
      .when(decoupling < ModerateBandMax, "moderate")
      .otherwise("poor")

  /** The 1-row trend block over per-run rows (activity_id, activity_date,
    * decoupling_pct, gct_fade_pct): decoupling and GCT-fade regressions on
    * the day number with the reference's significance gates
    * (p > 0.05 → stable; < 3 points → insufficient_data; the GCT
    * regression only sees non-null fades), the absolute assessment
    * (recent / exact window median / band / all-strong flag), and the
    * best/worst ranking by (decoupling, date, id) — null under 2 runs.
    * Exact p-values via the native Student-t expression. The day number is
    * days since 1970-01-01: slope and correlation are invariant to a shift
    * of x, so the reference's days-since-first-run needs no base-date pass.
    */
  def trend(runs: DataFrame): DataFrame = {
    val pts = runs.withColumn("x",
      datediff(col("activity_date"), lit("1970-01-01")).cast("double"))
    val agg = pts.agg(
      count(lit(1)).as("n"),
      regr_slope(col("decoupling_pct"), col("x")).as("slope0"),
      corr(col("decoupling_pct"), col("x")).as("r0"),
      regr_slope(when(col("gct_fade_pct").isNotNull, col("gct_fade_pct")),
        when(col("gct_fade_pct").isNotNull, col("x"))).as("gct_slope0"),
      corr(when(col("gct_fade_pct").isNotNull, col("gct_fade_pct")),
        when(col("gct_fade_pct").isNotNull, col("x"))).as("gct_r0"),
      count(col("gct_fade_pct")).as("n_form"),
      // exact interpolating median — np.median semantics, not approx
      expr("percentile(decoupling_pct, 0.5)").as("median0"),
      max_by(col("decoupling_pct"),
        struct(col("activity_date"), col("activity_id"))).as("recent0"),
      min_by(struct(col("activity_id").as("id"), col("decoupling_pct"),
        col("activity_date")),
        struct(col("decoupling_pct"), col("activity_date"), col("activity_id")))
        .as("best0"),
      max_by(struct(col("activity_id").as("id"), col("decoupling_pct"),
        col("activity_date")),
        struct(col("decoupling_pct"), col("activity_date"), col("activity_id")))
        .as("worst0"),
      every(col("decoupling_pct") < StrongBandMax).as("all_strong"))
    def dir(slope: Column, p: Column, n: Column): Column =
      when(n < 3, "insufficient_data")
        .when(p > 0.05, "stable")
        .when(slope < 0, "improving")
        .otherwise("worsening")
    val p = StudentT.corrPValue(col("r0"), col("n"))
    val pForm = StudentT.corrPValue(col("gct_r0"), col("n_form"))
    agg.select(
      when(col("n") >= 3, col("slope0")).otherwise(0.0)
        .as("decoupling_slope_per_day"),
      col("n").as("data_points"),
      dir(col("slope0"), p, col("n")).as("direction"),
      when(col("n_form") >= 3, col("gct_slope0")).as("gct_fade_slope_per_day"),
      dir(col("gct_slope0"), pForm, col("n_form")).as("form_direction"),
      round(col("recent0"), 2).as("recent_decoupling_pct"),
      round(col("median0"), 2).as("window_median_decoupling_pct"),
      bandOf(col("median0")).as("band"),
      col("all_strong").as("all_within_strong_band"),
      when(col("n") >= 2, col("best0.id")).as("best_run_id"),
      when(col("n") >= 2, col("worst0.id")).as("worst_run_id"))
  }
}
