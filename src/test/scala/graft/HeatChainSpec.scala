package graft

import graft.functions.StudentT
import graft.operators.Stats
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Heat-adjustment chain (reference heat_adjustment.py): hinge, 3-covariate
  * OLS via distributed sufficient statistics, per-run heat cost / neutral
  * HR, and the n >= 10 gate.
  */
class HeatChainSpec extends SparkSpec {
  import spark.implicits._

  test("heatHinge: zero below the reference temperature, linear above") {
    val got = Seq(10.0, 15.0, 20.0, 30.0).toDF("t")
      .select(Stats.heatHinge(col("t"))).collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(0.0, 0.0, 5.0, 15.0))
  }

  test("betas recover planted coefficients exactly on noise-free data") {
    // y = 70 + 0.1*pace + 1.5*hinge + 0.05*days, exact arithmetic
    val rows = for (i <- 0 until 40) yield {
      val pace = 280.0 + (i % 7) * 10.0
      val temp = 5.0 + (i % 11) * 3.0
      val hinge = math.max(temp - 15.0, 0.0)
      val days = i.toDouble
      (70.0 + 0.1 * pace + 1.5 * hinge + 0.05 * days, pace, hinge, days)
    }
    val f = rows.toDF("y", "x1", "x2", "x3")
    val b = Stats.heatBetas(Stats.heatStats(f)).head()
    assert(math.abs(b.getAs[Double]("b_pace") - 0.1) < 1e-9)
    assert(math.abs(b.getAs[Double]("b_heat") - 1.5) < 1e-9)
    assert(math.abs(b.getAs[Double]("b_days") - 0.05) < 1e-9)
    assert(math.abs(b.getAs[Double]("b0") - 70.0) < 1e-6)
    assert(b.getAs[Long]("n") === 40L)
  }

  test("heatCost: per-run cost and climate-neutral HR") {
    val f = Seq((150.0, 300.0, 10.0, 0.0), (140.0, 300.0, 0.0, 1.0))
      .toDF("y", "x1", "x2", "x3")
    val betas = Seq((2.0)).toDF("b_heat")
    val got = Stats.heatCost(f, betas)
      .select("y", "heat_cost", "neutral_hr").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got === Set((150.0, 20.0, 130.0), (140.0, 0.0, 140.0)))
  }

  test("heatTrend: insufficient_data below the n >= 10 gate, ok above") {
    def mk(n: Int) = (0 until n).map { i =>
      (100.0 + i, 300.0 + (i % 7) * 3.0, i % 5 * 1.0, i.toDouble)
    }.toDF("y", "x1", "x2", "x3")
    val small = Stats.heatTrend(mk(9)).head()
    assert(small.getAs[String]("status") === "insufficient_data")
    assert(small.getAs[Long]("n") === 9L)
    assert(small.isNullAt(small.fieldIndex("b_heat")))
    val ok = Stats.heatTrend(mk(30)).head()
    assert(ok.getAs[String]("status") === "ok")
    // planted y has slope 1 per day after removing nothing material;
    // the neutral-HR series keeps a positive time trend with a real p-value
    assert(ok.getAs[Double]("neutral_hr_slope") > 0.0)
    val p = ok.getAs[Double]("neutral_hr_p_value")
    assert(p >= 0.0 && p <= 1.0)
  }

  // Noisy planted observations: y = 70 + 0.1·pace + 1.5·hinge + 0.05·day
  // + N(0, 2²), over days 0..59 (seeded, so the fit is deterministic).
  private def planted(shift: Double = 0.0, constHinge: Boolean = false) = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val pace = 280.0 + rnd.nextInt(60)
      val hinge = if (constHinge) 0.0 else math.max(5.0 + rnd.nextInt(25) - 15.0, 0.0)
      (70.0 + 0.1 * pace + 1.5 * hinge + 0.05 * i + 2.0 * rnd.nextGaussian(),
        pace, hinge, i + shift)
    }
    val s = spark
    import s.implicits._
    rows.toDF("y", "x1", "x2", "x3")
  }

  /** The two-pass chain heatTrend replaces: the fit, then a second pass
    * over the per-run neutral HR for its time trend.
    */
  private def twoPass(f: DataFrame): Row =
    Stats.heatCost(f, Stats.heatBetas(Stats.heatStats(f)))
      .groupBy("b_pace", "b_heat", "b_days", "b0", "n")
      .agg(regr_slope(col("neutral_hr"), col("x3")).as("neutral_hr_slope"),
        corr(col("neutral_hr"), col("x3")).as("_r"),
        regr_count(col("neutral_hr"), col("x3")).as("_nn"))
      .withColumn("neutral_hr_p_value",
        StudentT.corrPValue(col("_r"), col("_nn")))
      .head()

  private val fitCols = Seq("b_pace", "b_heat", "b_days", "b0",
    "neutral_hr_slope", "neutral_hr_p_value")

  private def assertAgrees(got: Row, want: Row): Unit = {
    assert(got.getAs[String]("status") === "ok")
    assert(got.getAs[Long]("n") === want.getAs[Long]("n"))
    fitCols.foreach { c =>
      val (a, b) = (got.getAs[Double](c), want.getAs[Double](c))
      assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"$c: $a vs $b")
    }
  }

  test("heatTrend's one aggregate agrees with the two-pass chain") {
    val f = planted()
    val got = Stats.heatTrend(f).head()
    assertAgrees(got, twoPass(f))
    assert(math.abs(got.getAs[Double]("b_heat") - 1.5) < 0.3)
    assert(got.getAs[Double]("neutral_hr_p_value") > 0.0)
  }

  test("heatTrend is invariant to a shift of x3, the intercept included") {
    // raw day numbers (days since 1970) against days since the first run
    assertAgrees(Stats.heatTrend(planted(shift = 20000.0)).head(),
      twoPass(planted()))
  }

  test("heatTrend on a singular system: betas and slope null, status ok") {
    val f = planted(constHinge = true)
    val got = Stats.heatTrend(f).head()
    val want = twoPass(f)
    assert(got.getAs[String]("status") === "ok")
    assert(got.getAs[Long]("n") === 60L)
    fitCols.foreach { c =>
      assert(got.isNullAt(got.fieldIndex(c)), c)
      assert(want.isNullAt(want.fieldIndex(c)), c)
    }
  }

  test("heatTrend drops rows with a null in any model column, listwise") {
    val s = spark
    import s.implicits._
    val nulls = Seq(
      (None, Some(300.0), Some(1.0), Some(3.0)),
      (Some(150.0), None, Some(1.0), Some(3.0)),
      (Some(150.0), Some(300.0), None, Some(3.0)),
      (Some(150.0), Some(300.0), Some(1.0), None))
      .toDF("y", "x1", "x2", "x3")
    val f = planted()
    val got = Stats.heatTrend(f.unionByName(nulls)).head()
    assert(got.getAs[Long]("n") === 60L)
    assertAgrees(got, twoPass(f))
  }
}
