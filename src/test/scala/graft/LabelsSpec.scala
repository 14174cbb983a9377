package graft

import graft.domain.Labels
import org.apache.spark.sql.functions._

/** Text layers: anomaly recommendations, trend fusion flags, phase
  * evaluations — byte-exact against the reference strings.
  */
class LabelsSpec extends SparkSpec {
  import spark.implicits._

  test("recommendations: dominant metric per cause, isolated dropped, fixed order") {
    val anomalies = Seq(
      // fatigue: 2x VO, 1x GCT -> VO dominates
      ("fatigue", "directVerticalOscillation", 10),
      ("fatigue", "directVerticalOscillation", 20),
      ("fatigue", "directGroundContactTime", 30),
      // elevation: single VR
      ("elevation_change", "directVerticalRatio", 5),
      // isolated: never emitted
      ("isolated", "directVerticalOscillation", 40))
      .toDF("probable_cause", "metric", "ts")
    val got = Labels.recommendations(anomalies)
      .select("probable_cause", "recommendation")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(
      ("elevation_change", "上り坂で上下動比(VR)悪化 → 上り坂練習を強化"),
      ("fatigue", "後半に上下動(VO)悪化（疲労傾向）→ 持久力トレーニング強化")))
  }

  test("recommendations: count tie resolves to the earliest-seen metric") {
    val anomalies = Seq(
      ("pace_change", "directVerticalRatio", 10),
      ("pace_change", "directGroundContactTime", 20),
      ("pace_change", "directVerticalRatio", 30),
      ("pace_change", "directGroundContactTime", 40))
      .toDF("probable_cause", "metric", "ts")
    val got = Labels.recommendations(anomalies).head().getString(2)
    assert(got === "ペース変化時に上下動比(VR)が増加 → ペース変化を緩やかに")
  }

  test("comparison interpretation pins the reference examples") {
    val df = Seq((1)).toDF("id")
    def one(p: Double, h: Double, t: Option[Double]): String =
      df.select(Labels.comparisonInterpretation(lit(p), lit(h),
        t.map(lit).getOrElse(lit(null).cast("double")))).head().getString(0)
    // docstring examples (comparisons.py:468-471)
    assert(one(-3.2, 12.0, Some(6.0)) === "ペース: 3.2秒/km速い, 心拍: 12bpm高い（気温+6°C影響）")
    assert(one(2.1, -5.0, Some(-2.0)) === "ペース: 2.1秒/km遅い, 心拍: 5bpm低い（気温-2°C影響）")
    assert(one(-1.0, 3.0, None) === "ペース: 1.0秒/km速い, 心拍: 3bpm高い")
    // |temp| <= 1°C adds no context
    assert(one(-1.0, 3.0, Some(0.5)) === "ペース: 1.0秒/km速い, 心拍: 3bpm高い")
  }

  test("periodDeltaPct: rounded 1dp, null on missing or zero prior") {
    val df = Seq(
      (Some(110.0), Some(100.0)),
      (Some(95.0), Some(100.0)),
      (Some(10.0), Some(0.0)),
      (None: Option[Double], Some(100.0)))
      .toDF("cur", "pri")
    val got = df.select(Labels.periodDeltaPct(col("cur"), col("pri")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq === Seq(Some(10.0), Some(-5.0), None, None))
  }

  test("buildWeeks matches the reference walk-back examples") {
    // derivations.py:428-431 doctest cases
    def run(loads: Seq[Double]): Int = {
      val df = loads.zipWithIndex.map { case (l, i) => ("u", i, l) }
        .toDF("k", "w", "load")
      Labels.buildWeeks(df, "k", "w", "load").head().getAs[Int]("build_weeks")
    }
    assert(run(Seq(30, 32, 35, 40)) === 4)
    assert(run(Seq(40, 32, 35, 38)) === 3)
    assert(run(Seq(50, 40, 30)) === 1)
  }

  test("fusion flags: warning combinations, healthy yields all false") {
    def flags(acwr: Option[String], hrv: Option[String], form: Option[Double]) = {
      val df = Seq((acwr, hrv, form)).toDF("a", "h", "f")
      val r = df.select(Labels.fusionFlags(col("a"), col("h"), col("f"))
        .as("fl")).select("fl.*").head()
      (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2))
    }
    assert(flags(Some("optimal"), Some("balanced"), Some(1.0)) === ((false, false, false)))
    assert(flags(Some("caution"), Some("under_recovery"), None) === ((true, false, false)))
    assert(flags(Some("high_risk"), None, Some(-2.0)) === ((false, true, false)))
    assert(flags(None, Some("under_recovery"), Some(-3.5)) === ((false, false, true)))
    // threshold is <= -2.0: -1.9 is NOT a decline
    assert(flags(Some("caution"), None, Some(-1.9)) === ((false, false, false)))
    assert(flags(None, None, None) === ((false, false, false)))
  }

  test("trendHeadline: last-two delta gated on n >= 2, build streak, signal flags per key") {
    // loads per key, listed out of week order; the expected values are the
    // component cases above: periodDeltaPct 110 vs 100 -> 10.0 and 95 vs
    // 100 -> -5.0 (a zero prior -> null), buildWeeks' strict-increase
    // streak, and the fusion-flag combinations
    val weekly = Seq(
      ("a", 2, 110.0), ("a", 0, 90.0), ("a", 1, 100.0),
      ("b", 1, 100.0), ("b", 2, 95.0), ("b", 0, 50.0),
      ("c", 0, 100.0),
      ("d", 1, 10.0), ("d", 0, 0.0))
      .toDF("k", "w", "load")
    val signals = Seq[(String, Option[String], Option[String], Option[Double])](
      ("a", Some("caution"), Some("under_recovery"), None),
      ("b", Some("high_risk"), None, Some(-2.0)),
      ("d", None, Some("under_recovery"), Some(-3.5)),
      ("z", Some("caution"), Some("under_recovery"), Some(-5.0)))
      .toDF("k", "acwr_status", "hrv_state", "form_delta_pct")
    val got = Labels.trendHeadline(weekly, signals, "k", "w", "load")
      .select("k", "load_delta_pct", "build_weeks", "fusion_flags.*")
      .collect().map { r =>
        (r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          r.getInt(2), (r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      }.sortBy(_._1).toSeq
    assert(got === Seq(
      ("a", Some(10.0), 3, (true, false, false)),
      ("b", Some(-5.0), 1, (false, true, false)),
      // one week: no delta; no signals row: every flag false
      ("c", None, 1, (false, false, false)),
      ("d", None, 2, (false, false, true))))
  }

  test("phase evaluations pin the reference strings") {
    val df = Seq((1L)).toDF("id")
    def one(c: org.apache.spark.sql.Column): String = df.select(c).head().getString(0)
    // warmup
    assert(one(Labels.warmupEvaluation(lit(false), lit(120.0), lit(300.0))) === "No warmup")
    assert(one(Labels.warmupEvaluation(lit(true), lit(135.0), lit(300.0))) === "Good warmup")
    assert(one(Labels.warmupEvaluation(lit(true), lit(148.0), lit(300.0))) === "Minimal warmup")
    assert(one(Labels.warmupEvaluation(lit(true), lit(160.0), lit(300.0))) === "Minimal warmup")
    assert(one(Labels.warmupEvaluation(lit(true), lit(null).cast("double"), lit(300.0))) === "Minimal warmup")
    // run
    assert(one(Labels.runEvaluation(lit(false), lit(150.0), lit(300.0), lit(0.01))) === "Poor")
    assert(one(Labels.runEvaluation(lit(true), lit(150.0), lit(300.0), lit(0.04))) === "Excellent")
    assert(one(Labels.runEvaluation(lit(true), lit(140.0), lit(300.0), lit(0.04))) === "Good")
    assert(one(Labels.runEvaluation(lit(true), lit(150.0), lit(300.0), lit(0.08))) === "Good")
    assert(one(Labels.runEvaluation(lit(true), lit(150.0), lit(300.0), lit(0.2))) === "Fair")
    assert(one(Labels.runEvaluation(lit(true), lit(150.0), lit(300.0), lit(null).cast("double"))) === "Fair")
    assert(one(Labels.runEvaluation(lit(true), lit(0.0), lit(300.0), lit(0.01))) === "Fair")
    // recovery
    assert(one(Labels.recoveryEvaluation(lit(false), lit(true), lit(120.0),
      lit(150.0), lit(160.0), lit(170.0))) === "No recovery")
    assert(one(Labels.recoveryEvaluation(lit(true), lit(true), lit(140.0),
      lit(150.0), lit(155.0), lit(165.0))) === "Excellent recovery") // hr -15, cad -15
    assert(one(Labels.recoveryEvaluation(lit(true), lit(true), lit(150.0),
      lit(165.0), lit(157.0), lit(165.0))) === "Good recovery") // hr -7, cad 0
    assert(one(Labels.recoveryEvaluation(lit(true), lit(true), lit(155.0),
      lit(165.0), lit(157.0), lit(165.0))) === "Insufficient recovery")
    assert(one(Labels.recoveryEvaluation(lit(true), lit(false), lit(120.0),
      lit(150.0), lit(160.0), lit(170.0))) === "Insufficient recovery")
    // hr drop 12 but cadence missing -> cadence_drop 0 -> not excellent
    assert(one(Labels.recoveryEvaluation(lit(true), lit(true), lit(145.0),
      lit(null).cast("double"), lit(157.0), lit(165.0))) === "Good recovery")
    // cooldown
    assert(one(Labels.cooldownEvaluation(lit(false), lit(120.0), lit(300.0))) === "No cooldown")
    assert(one(Labels.cooldownEvaluation(lit(true), lit(130.0), lit(300.0))) === "Good cooldown")
    assert(one(Labels.cooldownEvaluation(lit(true), lit(155.0), lit(300.0))) === "Minimal cooldown")
  }
}
