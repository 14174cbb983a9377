package graft

import java.nio.file.{Files, Path}

import graft.domain.Performance
import graft.ingest.{SilverTables, SilverWriter, SplitsEnrich}
import graft.sources.GarminJson
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-activity silver derivations cluster the laps once on
  * activity_id: each runs at most 2 jobs and 1 shuffle exchange, and gives
  * the rows of the formulations it replaced (per-activity aggregates joined
  * back onto the laps, typed per-activity group functions), which are
  * copied here as they read before. Doubles agree within 1e-9 relative,
  * every other value exactly.
  */
class IngestPlanSpec extends SparkSpec {

  private val Base = 40000000000L

  private def lap(i: Int, intensity: Option[String], distance: Option[Double],
      speed: Option[Double], hr: Option[Double], vo: Option[Double] = None,
      gct: Option[Double] = None, vr: Option[Double] = None): String = {
    val fields = Seq(
      Some(s""""lapIndex": $i"""),
      intensity.map(t => s""""intensityType": "$t""""),
      distance.map(d => s""""distance": $d"""),
      for (d <- distance; s <- speed) yield s""""duration": ${d / s}""",
      speed.map(s => s""""averageSpeed": $s"""),
      hr.map(h => s""""averageHR": $h"""),
      Some(s""""averageRunCadence": ${165 + i}"""),
      Some(s""""averagePower": ${220.0 + 3 * i}"""),
      gct.map(g => s""""groundContactTime": $g"""),
      vo.map(v => s""""verticalOscillation": $v"""),
      vr.map(v => s""""verticalRatio": $v"""))
    fields.flatten.mkString("{", ", ", "}")
  }

  private def form(i: Int) =
    (Some(8.0 + 0.3 * i), Some(235.0 + i), Some(7.0 + 0.1 * i))

  /** Bronze laps per activity: an interval session, a steady run with a
    * GPS fragment and a VO gap, no run laps, no VO rows, a single lap, no
    * distances, an all-unlabelled session (the estimation path) and a
    * mixed-label one with a missing distance.
    */
  private val bronze: Seq[(Long, Seq[String])] = {
    def withForm(i: Int, t: Option[String], d: Option[Double], s: Option[Double],
        h: Option[Double]) = {
      val (vo, gct, vr) = form(i)
      lap(i, t, d, s, h, vo, gct, vr)
    }
    val interval = Seq("WARMUP", "INTERVAL", "RECOVERY", "INTERVAL", "RECOVERY",
      "INTERVAL", "RECOVERY", "INTERVAL", "COOLDOWN").zipWithIndex.map {
      case (t, j) =>
        val work = t == "INTERVAL"
        withForm(j + 1, Some(t), Some(if (work) 800.0 else 400.0),
          Some(if (work) 4.2 else 2.4), Some(if (work) 160.0 + 3 * j else 135.0 + j))
    }
    val steady = (1 to 6).map { i =>
      val (vo, gct, vr) = form(i)
      lap(i, Some("ACTIVE"), Some(if (i == 6) 120.0 else 1000.0 + 5 * i),
        Some(3.1 - 0.02 * i), Some(145.0 + i),
        if (i == 2) None else vo, gct, vr)
    }
    val noRun = Seq("WARMUP", "REST", "COOLDOWN").zipWithIndex.map { case (t, j) =>
      withForm(j + 1, Some(t), Some(900.0), Some(2.5), Some(128.0 + j))
    }
    val noVo = (1 to 4).map(i => lap(i, Some("ACTIVE"), Some(1000.0),
      Some(3.0 + 0.05 * i), Some(150.0 + i), gct = Some(240.0 + i), vr = Some(8.0)))
    val single = Seq(withForm(1, Some("ACTIVE"), Some(5000.0), Some(3.0), Some(148.0)))
    val noDistance = (1 to 5).map(i => withForm(i, Some("active"), None,
      Some(2.9 + 0.03 * i), Some(146.0 + i)))
    val unlabelled = Seq((2.5, 140.0), (2.5, 145.0), (1000.0 / 300, 168.0),
      (2.0, 150.0), (1000.0 / 300, 170.0), (2.0, 152.0), (2.5, 146.0),
      (2.5, 140.0)).zipWithIndex.map { case ((s, h), j) =>
      withForm(j + 1, None, Some(1000.0), Some(s), Some(h))
    } :+ lap(9, None, Some(300.0), None, None)
    val mixed = Seq(Some("ACTIVE"), None, Some("INTERVAL"), None, Some("RECOVERY"))
      .zipWithIndex.map { case (t, j) =>
        withForm(j + 1, t, if (j == 1) None else Some(1000.0), Some(3.0 + 0.1 * j),
          Some(150.0 + 2 * j))
      }
    Seq(interval, steady, noRun, noVo, single, noDistance, unlabelled, mixed)
      .zipWithIndex.map { case (laps, k) => (Base + k + 1, laps) }
  }

  private lazy val bronzeRoot: String = {
    val d = Files.createTempDirectory("graft-ingest-plan")
    bronze.foreach { case (id, laps) =>
      val p: Path = d.resolve(s"activity/$id/splits.json")
      Files.createDirectories(p.getParent)
      Files.writeString(p,
        s"""{"activityId": $id, "lapDTOs": [${laps.mkString(",")}]}""")
    }
    d.toString
  }

  /** The bronze laps as ingest stores them: parquet partitioned by
    * activity_id, read back as a table.
    */
  private lazy val splits: DataFrame = {
    val out = Files.createTempDirectory("graft-ingest-plan-silver").toString + "/splits"
    SilverWriter.upsertByPartition(GarminJson.readSplits(spark, bronzeRoot), out)
    spark.read.parquet(out)
  }

  // ---- the replaced formulations, as they read before ----

  private def truthy(c: Column): Column = c.isNotNull && c =!= 0.0
  private def fmt1(c: Column): Column = format_string("%.1f", bround(c, 1))
  private def fmt0(c: Column): Column = format_string("%.0f", bround(c, 0))
  private val phases = Seq("warmup", "run", "recovery", "cooldown")

  private def phaseWide(splits: DataFrame): DataFrame = {
    val distKm = col("distance") / 1000.0
    val dur = col("duration_seconds")
    val refPace = when(truthy(distKm) && truthy(dur), dur / distKm)
    val w = when(truthy(dur), dur)
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
        when(pairs > 0, when(ww =!= 0.0, vw / ww)).otherwise(avg(inPhase(v)))
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
    val aggs = phases.flatMap(phase)
    splits.groupBy("activity_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: phases.map { p =>
        val pace = col(s"${p}_avg_pace_seconds_per_km")
        when(pace.isNotNull, format_string("%d:%02d",
          floor(pace / 60.0).cast("long"), floor(pace % 60.0).cast("long")))
          .as(s"${p}_avg_pace_str")
      }: _*)
  }

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
      .withColumn("cadence_consistency", lit("安定"))
      .withColumn("fatigue_pattern", lit("適切"))
  }

  private def joinedPerformanceTrends(splits: DataFrame): DataFrame = {
    import spark.implicits._
    val drift = splits
      .select(col("activity_id"), col("split_index"), col("intensity_type"),
        col("pace_seconds_per_km"), col("heart_rate"))
      .as[(Long, Int, Option[String], Option[Double], Option[Double])]
      .groupByKey(_._1)
      .mapGroups { (aid, it) =>
        val laps = it.toSeq.sortBy(_._2)
          .map(l => Performance.Lap(l._3, l._4, l._5))
        (aid, Performance.classifyWorkoutStructure(laps),
          Performance.hrDrift(laps))
      }
      .toDF("activity_id", "workout_structure", "hr_drift_percentage")
    val run = splits.where(
      upper(col("intensity_type")).isin(Performance.WorkIntensities.toSeq: _*))
    val med = run.groupBy("activity_id")
      .agg(median(col("distance")).as("med_dist"))
    val pace = col("pace_seconds_per_km")
    val isRep = pace.isNotNull && col("distance").isNotNull &&
      col("distance") >= col("med_dist") * 0.5
    def cvOf(n: Column, sd: Column, mean: Column): Column =
      when(n === 0, lit(null).cast("double"))
        .when(n === 1, lit(0.0))
        .when(mean <= 0.0, lit(null).cast("double"))
        .otherwise(sd / mean)
    val cvs = run.join(broadcast(med), "activity_id")
      .groupBy("activity_id")
      .agg(
        count(when(isRep, lit(1))).as("n_rep"),
        stddev(when(isRep, pace)).as("rep_sd"),
        avg(when(isRep, pace)).as("rep_mean"),
        count(pace).as("n_all"),
        stddev(pace).as("all_sd"),
        avg(pace).as("all_mean"))
      .select(col("activity_id"),
        when(col("n_rep") >= 2,
          cvOf(col("n_rep"), col("rep_sd"), col("rep_mean")))
          .otherwise(cvOf(col("n_all"), col("all_sd"), col("all_mean")))
          .as("pace_consistency"),
        cvOf(col("n_all"), col("all_sd"), col("all_mean"))
          .as("pace_consistency_full"))
    Schemas.conform(
      drift.join(cvs, Seq("activity_id"), "left")
        .join(phaseWide(splits), Seq("activity_id"), "left")
        .transform(withPhaseEvaluations),
      "performance_trends")
  }

  private def joinedFormEfficiency(splits: DataFrame): DataFrame = {
    def stats(src: String, out: String) = {
      val v = col(src)
      val cnt = count(v)
      Seq(
        avg(v).as(s"${out}_average"), min(v).as(s"${out}_min"),
        max(v).as(s"${out}_max"),
        when(cnt > 1, stddev_samp(v)).when(cnt === 1, 0.0).as(s"${out}_std"))
    }
    val aggs = stats("ground_contact_time", "gct") ++
      stats("vertical_oscillation", "vo") ++ stats("vertical_ratio", "vr")
    val base = splits.groupBy("activity_id").agg(aggs.head, aggs.tail: _*)
    val voRows = splits.where(col("vertical_oscillation").isNotNull)
      .withColumn("_rn", row_number().over(
        Window.partitionBy("activity_id").orderBy("split_index")))
    val voAgg = voRows.groupBy("activity_id").agg(
      count(lit(1)).as("n_vo"),
      avg("vertical_oscillation").as("vo_avg"),
      stddev_pop("vertical_oscillation").as("vo_pstd"))
    val halves = voRows.join(voAgg, "activity_id")
      .groupBy("activity_id")
      .agg(
        avg(when(col("_rn") <= floor(col("n_vo") / 2),
          col("vertical_oscillation"))).as("first_avg"),
        avg(when(col("_rn") > floor(col("n_vo") / 2),
          col("vertical_oscillation"))).as("second_avg"))
    val voTrendIn = voAgg.join(halves, "activity_id")
      .select(col("activity_id"), col("n_vo"), col("vo_avg"),
        (col("vo_pstd") / col("vo_avg") * 100.0).as("cv"),
        ((col("second_avg") - col("first_avg")) / col("first_avg") * 100.0)
          .as("change_pct"))
    val consistency = when(col("cv") < 5, "Very stable")
      .when(col("cv") < 10, "Stable").otherwise("Variable")
    val trendTxt =
      when(abs(col("change_pct")) < 3, lit("consistent"))
        .when(col("change_pct") > 0, format_string(
          "increasing (+%s%%, fatigue indicator)", fmt1(col("change_pct"))))
        .otherwise(format_string("decreasing (%s%%)", fmt1(col("change_pct"))))
    val voTrend = voTrendIn.select(col("activity_id"),
      when(col("n_vo") < 3,
        format_string("Insufficient data (%d splits)", col("n_vo")))
        .otherwise(format_string("%s (%scm avg, CV=%s%%, %s)",
          consistency, fmt1(col("vo_avg")), fmt0(col("cv")), trendTxt))
        .as("vo_trend"))
    Schemas.conform(
      base.join(voTrend, Seq("activity_id"), "left")
        .withColumn("gct_variability",
          when(truthy(col("gct_average")) && truthy(col("gct_std")),
            col("gct_std") / col("gct_average") * 100.0))
        .withColumn("gct_rating", when(col("gct_average").isNotNull,
          SilverTables.formRating("gct", col("gct_average"))))
        .withColumn("vo_rating", when(col("vo_average").isNotNull,
          SilverTables.formRating("vo", col("vo_average"))))
        .withColumn("vr_rating", when(col("vr_average").isNotNull,
          SilverTables.formRating("vr", col("vr_average"))))
        .withColumn("gct_evaluation", SilverTables.gctEvaluation(col("gct_average")))
        .withColumn("vo_evaluation", SilverTables.voEvaluation(col("vo_average")))
        .withColumn("vr_evaluation", SilverTables.vrEvaluation(col("vr_average"))),
      "form_efficiency")
  }

  private def joinedEstimatedIntensity(splits: DataFrame): DataFrame = {
    import spark.implicits._
    val needs = splits
      .groupBy("activity_id")
      .agg(max(col("intensity_type").isNotNull.cast("int")).as("has_any"))
      .where(col("has_any") === 0)
      .select("activity_id")
    val estimated = splits.join(needs, Seq("activity_id"), "left_semi")
      .select(col("activity_id"), col("split_index"),
        col("heart_rate"), col("pace_seconds_per_km"))
      .as[(Long, Int, Option[Double], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (aid, it) =>
        val laps = it.toSeq.sortBy(_._2)
        val labels = SplitsEnrich.estimateIntensity(laps.map(l => (l._3, l._4)))
        laps.zip(labels).map { case (l, lab) => (aid, l._2, lab) }
      }
      .toDF("activity_id", "split_index", "estimated_type")
    splits.join(estimated, Seq("activity_id", "split_index"), "left")
      .withColumn("intensity_type",
        coalesce(col("intensity_type"), col("estimated_type")))
      .drop("estimated_type")
  }

  // ---- comparison ----

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  /** Same column names and types, and, ordered by `keys`, the same rows. */
  private def assertAgrees(got: DataFrame, want: DataFrame, keys: String*): Seq[Row] = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType))
    assert(got.columns.toSet === want.columns.toSet)
    val (gr, wr) = (g.orderBy(keys.map(col): _*).collect().toSeq,
      want.orderBy(keys.map(col): _*).collect().toSeq)
    assert(gr.length === wr.length)
    gr.zip(wr).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        assert(close(a.get(i), b.get(i)), s"${want.columns(i)}: $a vs $b")
      }
    }
    gr
  }

  test("performance_trends agrees with the joined per-activity aggregates") {
    val rows = assertAgrees(SilverTables.performanceTrends(splits),
      joinedPerformanceTrends(splits), "activity_id")
    assert(rows.length === bronze.length)
    val byId = rows.map(r => r.getAs[Long]("activity_id") - Base -> r).toMap
    assert(byId(1L).getAs[String]("workout_structure") === "interval")
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("pace_consistency")))
    assert(byId(5L).getAs[Double]("pace_consistency") === 0.0)
    // the fragment leaves the robust CV, the full one keeps it
    assert(byId(2L).getAs[Double]("pace_consistency") !=
      byId(2L).getAs[Double]("pace_consistency_full"))
  }

  test("form_efficiency agrees with the joined VO halves") {
    val rows = assertAgrees(SilverTables.formEfficiency(splits),
      joinedFormEfficiency(splits), "activity_id")
    assert(rows.length === bronze.length)
    val trend = rows.map(r =>
      r.getAs[Long]("activity_id") - Base -> r.getAs[String]("vo_trend")).toMap
    assert(trend(4L) === null) // no VO row: no trend
    assert(trend(5L) === "Insufficient data (1 splits)")
    // VO laps 1, 3..6: the halves split after the second of them
    assert(trend(2L) === "Stable (9.1cm avg, CV=6%, increasing (+10.5%, fatigue indicator))")
  }

  test("estimated intensity agrees with the joined estimate, column order kept") {
    val rows = assertAgrees(SplitsEnrich.withEstimatedIntensity(splits),
      joinedEstimatedIntensity(splits), "activity_id", "split_index")
    def labels(k: Long) = rows.filter(_.getAs[Long]("activity_id") == Base + k)
      .map(r => Option(r.getAs[String]("intensity_type")))
    assert(labels(7L) === Seq("WARMUP", "WARMUP", "INTERVAL", "RECOVERY",
      "INTERVAL", "RECOVERY", "ACTIVE", "COOLDOWN", "COOLDOWN").map(Some(_)))
    // a partly labelled activity is not estimated
    assert(labels(8L) === Seq(Some("ACTIVE"), None, Some("INTERVAL"), None,
      Some("RECOVERY")))
    val bronzeSplits = GarminJson.readSplits(spark, bronzeRoot)
    assert(SplitsEnrich.withEstimatedIntensity(bronzeSplits).columns.toSeq ===
      joinedEstimatedIntensity(bronzeSplits).columns.toSeq)
  }

  test("each derivation runs at most 2 jobs and 1 shuffle exchange") {
    val derivations: Seq[(String, () => DataFrame)] = Seq(
      ("performanceTrends", () => SilverTables.performanceTrends(splits)),
      ("formEfficiency", () => SilverTables.formEfficiency(splits)),
      ("withEstimatedIntensity",
        () => SplitsEnrich.withEstimatedIntensity(splits)))
    derivations.foreach(_._2().collect()) // warm
    derivations.foreach { case (name, mk) =>
      val df = mk()
      val r = Telemetry.measure(spark, name)(df.collect())
      assert(r.jobs <= 2, s"$name jobs")
      assert(r.exchanges <= 1, s"$name exchanges")
      assert(r.exchanges >= 1, s"$name clusters the laps once")
    }
  }
}
