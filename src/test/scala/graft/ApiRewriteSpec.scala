package graft

import graft.api.Graft
import graft.domain.Durability
import graft.functions.StudentT
import graft.operators.{Aggregates, Stats}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The façade's one-partition reads against the formulations they replace:
  * the same rows, in the same order where the call promises one, within
  * 1e-9 relative. The replaced formulations are built here, each as it read
  * before: the distributed aggregate or window with its exchange, the range
  * sort, the broadcast target side of the similarity search, the bounds
  * aggregate + join of the durability halves, and the base-date cross-join
  * of the durability trend.
  */
class ApiRewriteSpec extends SparkSpec {

  private lazy val root = AthleteFixture.root
  private lazy val g = new Graft(spark, root)
  private def tbl(name: String): DataFrame = spark.read.parquet(s"$root/$name")

  private val windows = Seq(("2026-05-02", "2026-06-15"),
    ("2026-05-10", "2026-05-20"), ("2026-05-02", "2026-05-05"))

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    case _ => a == b
  }

  /** Same schema and, row by row in the order given, the same values. */
  private def assertAgrees(got: DataFrame, want: DataFrame, what: String): Seq[Row] = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), what)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.length === w.length, what)
    g.zip(w).foreach { case (a, b) => assert(close(a, b), s"$what: $a vs $b") }
    g
  }

  test("acwr, weekly and monthly volume agree with the exchange plans") {
    val daily = tbl("activities")
      .groupBy(col("activity_date"))
      .agg(sum("total_distance_km").as("load_km"))
      .withColumn("day_idx", datediff(col("activity_date"), lit("1970-01-01")))
      .withColumn("athlete", lit("default"))
    val acwr = Stats.acwr(daily, "athlete", "day_idx", "load_km").drop("athlete")
    assert(assertAgrees(g.trainingLoad.acwr().orderBy("activity_date"),
      acwr.orderBy("activity_date"), "acwr").length === 24)

    assert(g.weekStartDay() === 0)
    val weeks = assertAgrees(g.trends.weeklyVolume(),
      Aggregates.weekBucketCfg(tbl("activities"), "activity_date",
        "total_distance_km", 0).withColumnRenamed("total_v", "load_km")
        .orderBy("week_start"), "weeklyVolume")
    assert(weeks.length > 5)
    assert(assertAgrees(g.trends.monthlyVolume(),
      Aggregates.monthBucket(tbl("activities"), "activity_date",
        "total_distance_km").orderBy("month"), "monthlyVolume").length === 2)
  }

  /** The similarity search with the target as a broadcast 1-row side. */
  private def similarBroadcast(activityId: Long): DataFrame = {
    val acts = tbl("activities").select(
      col("activity_id"), col("activity_date"), col("activity_name"),
      when(col("average_speed") > 0, lit(1000.0) / col("average_speed"))
        .as("avg_pace"),
      col("avg_heart_rate"), col("total_distance_km"),
      coalesce(lower(col("training_type")), lit("unknown")).as("ttype"))
    val target = broadcast(acts.where(col("activity_id") === activityId)
      .select(col("avg_pace").as("t_pace"), col("avg_heart_rate").as("t_hr"),
        col("total_distance_km").as("t_dist"), col("ttype").as("t_type")))
    acts.where(col("activity_id") =!= activityId)
      .crossJoin(target)
      .where(col("avg_pace").between(col("t_pace") * 0.8, col("t_pace") * 1.2) &&
        col("total_distance_km").between(col("t_dist") * 0.8, col("t_dist") * 1.2))
      .withColumn("similarity_score",
        bround(graft.operators.Joins.similarityScore(
          col("t_pace"), col("avg_pace"), col("t_dist"), col("total_distance_km"),
          col("t_type"), col("ttype")), 1))
      .withColumn("pace_diff", bround(col("avg_pace") - col("t_pace"), 1))
      .withColumn("hr_diff",
        bround(when(col("avg_heart_rate").isNotNull && col("t_hr").isNotNull,
          col("avg_heart_rate") - col("t_hr")).otherwise(0.0), 1))
      .withColumn("interpretation", graft.domain.Labels.comparisonInterpretation(
        col("pace_diff"), col("hr_diff"), lit(null).cast("double")))
      .orderBy(abs(col("avg_pace") - col("t_pace")).asc,
        col("activity_date").desc, col("activity_id").asc)
      .limit(10)
      .select("activity_id", "activity_date", "activity_name",
        "similarity_score", "pace_diff", "hr_diff", "interpretation")
  }

  test("findSimilarWorkouts agrees with the broadcast-target plan for every target") {
    val found = AthleteFixture.ids.map { id =>
      assertAgrees(g.comparisons.findSimilarWorkouts(id), similarBroadcast(id),
        s"target $id").length
    }
    assert(found.sum > 0)
    // a zero-speed target has no pace, so no band and no similar runs
    assert(found(10) === 0)
    assert(g.comparisons.findSimilarWorkouts(999L).collect().isEmpty)
    assert(similarBroadcast(999L).collect().isEmpty)
  }

  private val tsCols = Seq("activity_id", "timestamp_s", "heart_rate", "speed",
    "ground_contact_time", "vertical_oscillation", "vertical_ratio").map(col)

  /** Midpoint-split durability with its bounds as an aggregate joined back. */
  private def perActivityJoin(ts: DataFrame): DataFrame = {
    val base = ts.where(col("heart_rate").isNotNull &&
      col("speed").isNotNull && col("speed") > 0)
    val bounds = base.groupBy("activity_id")
      .agg(min("timestamp_s").as("t0"), max("timestamp_s").as("t1"))
      .where(col("t1") > col("t0"))
    def firstAvg(c: String) = avg(when(col("timestamp_s") < col("mid"), col(c)))
    def secondAvg(c: String) = avg(when(col("timestamp_s") >= col("mid"), col(c)))
    def fade(front: String, back: String) =
      when(col(front).isNotNull && col(back).isNotNull && col(front) > 0,
        round((col(back) / col(front) - 1.0) * 100.0, 2))
    base.join(bounds, Seq("activity_id"))
      .withColumn("mid", (col("t0") + col("t1")) / 2.0)
      .groupBy("activity_id")
      .agg(firstAvg("heart_rate").as("front_hr"), secondAvg("heart_rate").as("back_hr"),
        firstAvg("speed").as("front_speed"), secondAvg("speed").as("back_speed"),
        firstAvg("ground_contact_time").as("front_gct"),
        secondAvg("ground_contact_time").as("back_gct"),
        firstAvg("vertical_oscillation").as("front_vo"),
        secondAvg("vertical_oscillation").as("back_vo"),
        firstAvg("vertical_ratio").as("front_vr"), secondAvg("vertical_ratio").as("back_vr"))
      .where(col("front_hr").isNotNull && col("back_hr").isNotNull &&
        col("front_speed").isNotNull && col("back_speed").isNotNull &&
        col("front_speed") > 0 && col("back_speed") > 0 && col("front_hr") > 0)
      .select(col("activity_id"),
        round((try_divide(col("back_hr") / col("back_speed"),
          col("front_hr") / col("front_speed")) - 1.0) * 100.0, 2).as("decoupling_pct"),
        round((col("front_speed") / col("back_speed") - 1.0) * 100.0, 2).as("pace_fade_pct"),
        fade("front_gct", "back_gct").as("gct_fade_pct"),
        fade("front_vo", "back_vo").as("vo_fade_pct"),
        fade("front_vr", "back_vr").as("vr_fade_pct"))
  }

  test("activityDurability agrees with the bounds-join plan, edge activities included") {
    val rows = AthleteFixture.ids.map { id =>
      id -> assertAgrees(g.durability.activityDurability(id),
        perActivityJoin(tbl("time_series_metrics").select(tsCols: _*)
          .where(col("activity_id") === id)), s"activity $id")
    }.toMap
    // a single sample spans no time: no row, as the reference returns None
    assert(rows(AthleteFixture.SingleSampleId).isEmpty)
    // no form metrics: the HR/speed fades stand, the form fades are null
    assert(rows(AthleteFixture.FormlessId).length === 1)
    val formless = rows(AthleteFixture.FormlessId).head
    assert(!formless.isNullAt(formless.fieldIndex("decoupling_pct")))
    Seq("gct_fade_pct", "vo_fade_pct", "vr_fade_pct").foreach(c =>
      assert(formless.isNullAt(formless.fieldIndex(c)), c))
    assert(rows.values.count(_.length == 1) === 23)
  }

  /** Long runs as a semi-join + join under a range sort, and the trend over
    * days since the window's first run via a base-date cross-join.
    */
  private def longRunsRange(from: String, to: String): DataFrame = {
    val runs = tbl("activities")
      .where(col("activity_date").between(from, to) && col("total_distance_km") >= 10.0)
      .select(col("activity_id"), col("activity_date"),
        col("total_distance_km").as("distance_km"))
    perActivityJoin(tbl("time_series_metrics").select(tsCols: _*)
        .join(runs.select("activity_id"), Seq("activity_id"), "left_semi"))
      .join(runs, Seq("activity_id"))
      .orderBy("activity_date", "activity_id")
  }

  private def trendFromFirstRun(runs: DataFrame): DataFrame = {
    val base = runs.agg(min(col("activity_date")).as("base_date"))
    val pts = runs.crossJoin(broadcast(base))
      .withColumn("x", datediff(col("activity_date"), col("base_date")).cast("double"))
    def fit(y: Column, x: Column) = (regr_slope(y, x), corr(y, x))
    val gct = col("gct_fade_pct")
    val (slope0, r0) = fit(col("decoupling_pct"), col("x"))
    val (gSlope0, gR0) = fit(when(gct.isNotNull, gct), when(gct.isNotNull, col("x")))
    val byRank = struct(col("decoupling_pct"), col("activity_date"), col("activity_id"))
    val ranked = struct(col("activity_id").as("id"), col("decoupling_pct"),
      col("activity_date"))
    val agg = pts.agg(count(lit(1)).as("n"), slope0.as("slope0"), r0.as("r0"),
      gSlope0.as("gct_slope0"), gR0.as("gct_r0"), count(gct).as("n_form"),
      expr("percentile(decoupling_pct, 0.5)").as("median0"),
      max_by(col("decoupling_pct"),
        struct(col("activity_date"), col("activity_id"))).as("recent0"),
      min_by(ranked, byRank).as("best0"), max_by(ranked, byRank).as("worst0"),
      every(col("decoupling_pct") < 5.0).as("all_strong"))
    def dir(slope: Column, p: Column, n: Column): Column =
      when(n < 3, "insufficient_data").when(p > 0.05, "stable")
        .when(slope < 0, "improving").otherwise("worsening")
    val p = StudentT.corrPValue(col("r0"), col("n"))
    val pForm = StudentT.corrPValue(col("gct_r0"), col("n_form"))
    agg.select(
      when(col("n") >= 3, col("slope0")).otherwise(0.0).as("decoupling_slope_per_day"),
      col("n").as("data_points"),
      dir(col("slope0"), p, col("n")).as("direction"),
      when(col("n_form") >= 3, col("gct_slope0")).as("gct_fade_slope_per_day"),
      dir(col("gct_slope0"), pForm, col("n_form")).as("form_direction"),
      round(col("recent0"), 2).as("recent_decoupling_pct"),
      round(col("median0"), 2).as("window_median_decoupling_pct"),
      Durability.bandOf(col("median0")).as("band"),
      col("all_strong").as("all_within_strong_band"),
      when(col("n") >= 2, col("best0.id")).as("best_run_id"),
      when(col("n") >= 2, col("worst0.id")).as("worst_run_id"))
  }

  test("longRuns and durabilityTrend agree with the range-sort and base-date plans") {
    windows.foreach { case (from, to) =>
      val runs = assertAgrees(g.durability.longRuns(from, to),
        longRunsRange(from, to), s"longRuns $from..$to")
      val got = g.durability.durabilityTrend(from, to)
      assertAgrees(got, trendFromFirstRun(longRunsRange(from, to)),
        s"durabilityTrend $from..$to")
      if (from == "2026-05-02" && to == "2026-06-15") {
        assert(runs.length >= 5)
        assert(got.head().getAs[String]("direction") !== "insufficient_data")
      }
      if (to == "2026-05-05")
        assert(got.head().getAs[String]("direction") === "insufficient_data")
    }
  }

  /** Heat observations with the series side left as the scan reads it. */
  private def observations(from: String, to: String): DataFrame = {
    val temps = tbl("time_series_metrics").groupBy("activity_id")
      .agg(avg("air_temperature").as("temp_c"))
    tbl("activities")
      .where(col("activity_date").between(from, to) &&
        col("avg_heart_rate").isNotNull && col("average_speed") > 0)
      .select(col("activity_id"), col("activity_date"),
        col("avg_heart_rate").as("y"), (lit(1000.0) / col("average_speed")).as("x1"))
      .join(temps, Seq("activity_id"))
      .where(col("temp_c").isNotNull)
      .withColumn("x2", Stats.heatHinge(col("temp_c"), 15.0))
      .withColumn("x3", datediff(col("activity_date"), lit("1970-01-01")).cast("double"))
  }

  test("heatTrend and heatCostPoints agree with the distributed series plans") {
    windows.foreach { case (from, to) =>
      assertAgrees(g.heat.heatTrend(from, to),
        Stats.heatTrend(observations(from, to).select("y", "x1", "x2", "x3"), 10),
        s"heatTrend $from..$to")
      val f = observations(from, to)
      val betas = Stats.heatBetas(Stats.heatStats(f.select("y", "x1", "x2", "x3")))
        .where(col("n") >= 10).select("b_heat")
      assertAgrees(g.heat.heatCostPoints(from, to),
        Stats.heatCost(f, betas).select(col("activity_date").as("date"), col("temp_c"),
          col("y").as("raw_hr"), col("heat_cost"), col("neutral_hr")).orderBy("date"),
        s"heatCostPoints $from..$to")
    }
    assert(g.heat.heatTrend("2026-05-02", "2026-06-15").head()
      .getAs[String]("status") === "ok")
    assert(g.heat.heatCostPoints("2026-05-02", "2026-06-15").count() === 21)
  }

  test("timeRangeStats agrees with the distributed global aggregate") {
    for (id <- Seq(1L, 5L, 7L, 24L); metric <- Seq("heart_rate", "ground_contact_time")) {
      val want = tbl("time_series_metrics")
        .where(col("activity_id") === id && col("seq_no") >= 3 && col("seq_no") < 33)
        .agg(avg(metric).as("avg_v"), stddev(metric).as("stddev_v"),
          min(metric).as("min_v"), max(metric).as("max_v"), count(metric).as("n_rows"))
      assertAgrees(g.timeSeries.timeRangeStats(id, 3, 33, metric), want, s"$id $metric")
    }
  }
}
