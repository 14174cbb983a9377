package graft.operators

import graft.{Q, Tables}
import graft.functions.StudentT
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical / model operators (SURVEY.md §2.10).
  *
  * The reference runs these in Python (scipy/numpy) over small extracted row
  * sets; here they are distributed aggregations. Linear trends use Spark's
  * `regr_*` declarative aggregates plus a native Student-t expression for
  * p-values (trends.py:103-159, durability.py:368-436). Multi-covariate OLS
  * (running_economy.py:199-342, heat_adjustment.py:117-192) is solved from
  * sufficient statistics: the Gram matrix X'X and X'y are computed as ONE
  * distributed aggregate (a handful of doubles regardless of input size) and
  * the k×k solve happens on the driver — the 100 TB-safe formulation of
  * "collect then fit" (what the reference does on ≤200 rows, made scale-free).
  *
  * Trend x-values are centered on a fixed epoch before fitting: at 1e9-scale
  * raw epoch seconds the covariance cancellation would cost ~7 digits of
  * precision against the oracle.
  */
object Stats {

  /** Epoch second of 2024-01-01, the x-centering constant for event trends. */
  private val X0 = 1704067200L

  /** Exact two-sided 5 % t critical values for df = 1..30 (97.5th
    * percentile; standard public table, generated via commons-math).
    */
  private val tCrit975Small: Seq[Double] = Seq(
    12.706205, 4.302653, 3.182446, 2.776445, 2.570582, 2.446912, 2.364624,
    2.306004, 2.262157, 2.228139, 2.200985, 2.178813, 2.160369, 2.144787,
    2.131450, 2.119905, 2.109816, 2.100922, 2.093024, 2.085963, 2.079614,
    2.073873, 2.068658, 2.063899, 2.059539, 2.055529, 2.051831, 2.048407,
    2.045230, 2.042272)

  /** SQL fragment: t_crit(df, 0.975) — exact table for df ≤ 30, else the
    * Cornish-Fisher expansion z + c1/df + c2/df² + c3/df³ (constants from
    * commons-math; max abs error 1.8e-6 over df ≥ 31). Pure literals and
    * +·/ arithmetic → bit-identical in Spark and DuckDB.
    */
  private def tCritSql(df: String): String = {
    val cases = tCrit975Small.zipWithIndex
      .map { case (v, i) => s"WHEN $df = ${i + 1} THEN $v" }.mkString(" ")
    s"(CASE $cases ELSE 1.959963984540054 + 2.372271230298562 / $df" +
      s" + 2.8224986157396112 / ($df * $df)" +
      s" + 2.555849679507722 / ($df * $df * $df) END)"
  }

  // ---- DuckDB-dialect Student-t p-value (oracle side of q_ols_inference) —
  // the Spark side uses the exact commons-math CDF (functions/StudentT); the
  // oracle re-derives the same number independently: two-sided
  // p = I_x(df/2, 1/2) with x = df/(df+t²), the regularized incomplete beta
  // evaluated by a FIXED-1000-iteration modified-Lentz continued fraction
  // (public algorithm; DLMF §8.17.22) with the standard symmetry switch at
  // x = (a+1)/(a+b+2). lgamma exists natively in DuckDB; the fold runs via
  // list_reduce over a DOUBLE[3] accumulator [c, d, h]. Validated against
  // mpmath to ≤ 2e-9 absolute across df ∈ [1, 600k] — three orders of
  // magnitude inside the checker's 1e-6 tolerance. Two independent accurate
  // implementations, not one formula copied across dialects — a stronger
  // check than string-splicing.

  /** Lentz CF `h` for I_x(a,b); a/b/x must be short parenthesized SQL. */
  private def duckBetaCf(a: String, b: String, x: String): String = {
    val aa1 = s"(e[1]*($b-e[1])*$x/(($a-1+2*e[1])*($a+2*e[1])))"
    val aa2 = s"(-($a+e[1])*($a+$b+e[1])*$x/(($a+2*e[1])*($a+1+2*e[1])))"
    val c1 = s"(1+$aa1/acc[1])"
    val d1 = s"(1/(1+$aa1*acc[2]))"
    val c2 = s"(1+$aa2/$c1)"
    val d2 = s"(1/(1+$aa2*$d1))"
    val h2 = s"(acc[3]*$c1*$d1*$c2*$d2)"
    val init = s"[CAST(1.0 AS DOUBLE), 1/(1-($a+$b)*$x/($a+1))," +
      s" 1/(1-($a+$b)*$x/($a+1))]"
    val lst = s"list_prepend(CAST($init AS DOUBLE[]), " +
      "list_transform(range(1,1001), m -> CAST([m,0,0] AS DOUBLE[])))"
    s"list_reduce($lst, (acc, e) -> [$c2, $d2, $h2])[3]"
  }

  /** Regularized incomplete beta I_x(a,b), DuckDB dialect. The `front`
    * prefactor exp(lnΓ(a+b)−lnΓ(a)−lnΓ(b)+a·ln x+b·ln(1−x)) is symmetric
    * under (a,b,x)↔(b,a,1−x), so one string serves both CF branches.
    */
  private def duckIBeta(a0: String, b0: String, x0: String): String = {
    val (a, b, x) = (s"($a0)", s"($b0)", s"($x0)")
    val front = s"exp(lgamma($a+$b)-lgamma($a)-lgamma($b)" +
      s"+$a*ln($x)+$b*ln(1-$x))"
    val direct = s"($front*${duckBetaCf(a, b, x)}/$a)"
    val sym = s"(1-$front*${duckBetaCf(b, a, s"(1-$x)")}/$b)"
    s"(CASE WHEN $x <= 0 THEN 0.0 WHEN $x >= 1 THEN 1.0 " +
      s"WHEN $x < ($a+1)/($a+$b+2) THEN $direct ELSE $sym END)"
  }

  /** Two-sided Student-t p-value of SQL column `t0` at `df0` dof. */
  private def duckTPValue(t0: String, df0: String): String = {
    val (t, df) = (s"($t0)", s"($df0)")
    val x = s"($df/($df+$t*$t))"
    s"(CASE WHEN $t IS NULL THEN NULL WHEN abs($t) < 1e-300 THEN 1.0 " +
      s"ELSE ${duckIBeta(s"$df/2.0", "0.5", x)} END)"
  }

  /** t statistic of a correlation r over n points (NULL off the domain:
    * r NULL or |r| = 1, where t diverges). Shared by both dialects.
    */
  private val trendTSql: String =
    "CASE WHEN r IS NULL OR r * r >= 1.0 THEN NULL " +
      // round(·,6): the classification below compares t against the critical
      // value EXACTLY (string equality in the checker), while raw t carries
      // per-engine corr-formulation ulps — rounding first makes the
      // classifier's input identical cross-engine (repo float-parity
      // convention).
      "ELSE round(r * sqrt((n - 2) / (1.0 - r * r)), 6) END"

  /** Trend classification CASE over columns (slope, r, n, t_stat):
    * |t| < crit(n-2) ⟺ p > 0.05 → stable; else sign(slope). The |r| = 1
    * degenerate (t → ∞, p → 0) is significant by construction.
    */
  private val trendDirSql: String =
    "CASE WHEN n < 3 OR r IS NULL THEN 'insufficient' " +
      "WHEN r * r >= 1.0 THEN " +
      "(CASE WHEN slope > 0 THEN 'improving' ELSE 'declining' END) " +
      s"WHEN abs(t_stat) < ${tCritSql("(n - 2)")} THEN 'stable' " +
      "WHEN slope > 0 THEN 'improving' ELSE 'declining' END"

  /** ACWR (acute:chronic workload ratio, training_load.py:38-120): 7-day
    * acute sum over 28-day chronic mean on a per-key daily-load frame, with
    * the reference's classification bands.
    */
  def acwr(daily: DataFrame, keyCol: String, dayIdxCol: String,
      valueCol: String): DataFrame = {
    val wAcute = Window.partitionBy(col(keyCol)).orderBy(col(dayIdxCol))
      .rangeBetween(-6L, 0L)
    val wChronic = Window.partitionBy(col(keyCol)).orderBy(col(dayIdxCol))
      .rangeBetween(-27L, 0L)
    daily
      .withColumn("acute", sum(col(valueCol)).over(wAcute))
      .withColumn("chronic", sum(col(valueCol)).over(wChronic) / 4.0)
      .withColumn("acwr",
        when(col("chronic") > 0, col("acute") / col("chronic")))
      .withColumn("zone",
        when(col("acwr").isNull, lit(null).cast("string"))
          .when(col("acwr") < 0.8, "low")
          .when(col("acwr") <= 1.3, "optimal")
          .when(col("acwr") <= 1.5, "caution")
          .otherwise("high"))
  }

  /** OLS with inference from distributed sufficient statistics: returns one
    * row with betas, two-sided p-values, R² and per-covariate VIF
    * (running_economy.py:199-342 semantics). `xCols` max ~10 — the driver
    * solve is O(k³) on a k×k matrix, input size never collected.
    */
  def olsInference(spark: SparkSession, df: DataFrame, yCol: String,
      xCols: Seq[String]): DataFrame = {
    import breeze.linalg.{inv, DenseMatrix, DenseVector}
    val k = xCols.size + 1
    val feats = lit(1.0) +: xCols.map(c => col(c).cast("double"))
    val y = col(yCol).cast("double")
    // upper-triangle of X'X, then X'y, then y'y — one aggregate row
    val gram = for (i <- 0 until k; j <- i until k)
      yield sum(feats(i) * feats(j)).as(s"g_${i}_$j")
    val xty = (0 until k).map(i => sum(feats(i) * y).as(s"xy_$i"))
    val aggs = gram ++ xty :+ sum(y * y).as("yy") :+ count(lit(1)).as("n")
    val row = df.na.drop(yCol +: xCols).agg(aggs.head, aggs.tail: _*).head()

    val xtx = DenseMatrix.zeros[Double](k, k)
    for (i <- 0 until k; j <- i until k) {
      val v = row.getAs[Double](s"g_${i}_$j")
      xtx(i, j) = v; xtx(j, i) = v
    }
    val xy = DenseVector((0 until k).map(i => row.getAs[Double](s"xy_$i")).toArray)
    val yy = row.getAs[Double]("yy")
    val n = row.getAs[Long]("n")

    val xtxInv = inv(xtx)
    val beta = xtxInv * xy
    val sse = math.max(yy - (beta dot xy), 0.0)
    val meanY = xy(0) / n
    val sst = yy - n * meanY * meanY
    val dfree = (n - k).toDouble
    val sigma2 = if (dfree > 0) sse / dfree else Double.NaN
    val tdist = if (dfree > 0)
      Some(new org.apache.commons.math3.distribution.TDistribution(dfree))
    else None
    val se = (0 until k).map(i => math.sqrt(sigma2 * xtxInv(i, i)))
    val pvals = (0 until k).map { i =>
      tdist.map(td => 2.0 * (1.0 - td.cumulativeProbability(
        math.abs(beta(i) / se(i))))).getOrElse(Double.NaN)
    }
    val r2 = if (sst > 0) 1.0 - sse / sst else Double.NaN
    // VIF_i = 1 / (1 - R²_i) of x_i regressed on the others; from the
    // correlation-matrix inverse diagonal (standard identity).
    val vifs: Seq[Double] =
      if (xCols.size < 2) xCols.map(_ => 1.0)
      else {
        val m = xCols.size
        val covX = DenseMatrix.zeros[Double](m, m)
        for (i <- 1 until k; j <- 1 until k) {
          val sij = xtx(i, j) - xtx(0, i) * xtx(0, j) / n
          covX(i - 1, j - 1) = sij
        }
        val corr = DenseMatrix.tabulate(m, m)((i, j) =>
          covX(i, j) / math.sqrt(covX(i, i) * covX(j, j)))
        val corrInv = inv(corr)
        (0 until m).map(i => corrInv(i, i))
      }

    import spark.implicits._
    val cols = ("intercept" +: xCols).zipWithIndex.map { case (name, i) =>
      (name, beta(i), se(i), pvals(i))
    }
    cols.toDF("term", "beta", "std_err", "p_value")
      .withColumn("r2", lit(r2))
      .withColumn("n", lit(n))
      .withColumn("vif",
        when(col("term") === "intercept", lit(null).cast("double"))
          .otherwise(element_at(
            typedLit(xCols.zip(vifs).toMap), col("term"))))
  }

  // ------------------------------------------------- heat-adjustment chain

  /** Heat hinge `max(temp - ref, 0)` (heat_adjustment.py:38-44): no heat
    * penalty below the reference temperature.
    */
  def heatHinge(tempC: Column, refTempC: Double = 15.0): Column =
    greatest(tempC - refTempC, lit(0.0))

  /** 3×3 determinant, first-row expansion, as a shared SQL fragment. The
    * SAME string is `expr()`-ed on the Spark side and spliced into the
    * DuckDB oracle, so the two dialects evaluate the identical arithmetic
    * shape — bit-equal betas given bit-equal covariances.
    */
  private def det3(a1: String, a2: String, a3: String,
      b1: String, b2: String, b3: String,
      c1: String, c2: String, c3: String): String =
    s"$a1 * ($b2 * $c3 - $b3 * $c2) - $a2 * ($b1 * $c3 - $b3 * $c1)" +
      s" + $a3 * ($b1 * $c2 - $b2 * $c1)"

  // Cramer's rule on the centered normal equations C·b = c of
  //   y ~ x1 (pace) + x2 (heat hinge) + x3 (days since start)
  // (heat_adjustment.py:117-192 fits the same OLS via sklearn; here the
  // covariances are ONE distributed aggregate and the 3×3 solve is column
  // math on the 1-row result — scale-free).
  private val hDet  = det3("c11", "c12", "c13", "c12", "c22", "c23", "c13", "c23", "c33")
  private val hDet1 = det3("c1y", "c12", "c13", "c2y", "c22", "c23", "c3y", "c23", "c33")
  private val hDet2 = det3("c11", "c1y", "c13", "c12", "c2y", "c23", "c13", "c3y", "c33")
  private val hDet3 = det3("c11", "c12", "c1y", "c12", "c22", "c2y", "c13", "c23", "c3y")
  // CASE-guarded against a singular system (collinear predictors) — the
  // guard is part of the shared string, so both dialects stay identical;
  // on non-degenerate data the branch is dead.
  private def guarded(num: String): String =
    s"(CASE WHEN ($hDet) = 0 THEN NULL ELSE ($num) / ($hDet) END)"
  private val hBPace = guarded(hDet1)
  private val hBHeat = guarded(hDet2)
  private val hBDays = guarded(hDet3)
  private val hB0 =
    s"(my - $hBPace * m1 - $hBHeat * m2 - $hBDays * m3)"

  /** SQL fragment computing the model's sufficient statistics (shared by
    * both dialects — DuckDB and Spark agree on covar_pop/avg/count names).
    */
  private val hStatsSql =
    """covar_pop(x1, x1) AS c11, covar_pop(x1, x2) AS c12,
      |    covar_pop(x1, x3) AS c13, covar_pop(x2, x2) AS c22,
      |    covar_pop(x2, x3) AS c23, covar_pop(x3, x3) AS c33,
      |    covar_pop(x1, y) AS c1y, covar_pop(x2, y) AS c2y,
      |    covar_pop(x3, y) AS c3y, avg(x1) AS m1, avg(x2) AS m2,
      |    avg(x3) AS m3, avg(y) AS my, count(*) AS n""".stripMargin

  /** Sufficient statistics of the heat model over a prepared frame with
    * columns (y, x1, x2, x3): one aggregate row, 14 doubles, regardless of
    * input size.
    */
  def heatStats(f: DataFrame): DataFrame = f.agg(heatStatsCols.head,
    heatStatsCols.tail: _*)

  private def heatStatsCols: Seq[Column] = Seq(
    covar_pop(col("x1"), col("x1")).as("c11"),
    covar_pop(col("x1"), col("x2")).as("c12"),
    covar_pop(col("x1"), col("x3")).as("c13"),
    covar_pop(col("x2"), col("x2")).as("c22"),
    covar_pop(col("x2"), col("x3")).as("c23"),
    covar_pop(col("x3"), col("x3")).as("c33"),
    covar_pop(col("x1"), col("y")).as("c1y"),
    covar_pop(col("x2"), col("y")).as("c2y"),
    covar_pop(col("x3"), col("y")).as("c3y"),
    avg("x1").as("m1"), avg("x2").as("m2"), avg("x3").as("m3"),
    avg("y").as("my"), count(lit(1)).as("n"))

  /** Fitted coefficients (1-row frame: b_pace, b_heat, b_days, b0, n) from
    * [[heatStats]] output.
    */
  def heatBetas(stats: DataFrame): DataFrame = stats.select(
    expr(hBPace).as("b_pace"), expr(hBHeat).as("b_heat"),
    expr(hBDays).as("b_days"), expr(hB0).as("b0"), col("n"))

  /** The fitted 1-row heat-model betas for a directory, memoized +
    * persisted: q_heat_model and q_heat_cost both start from this same
    * full-table covariance fit — without the barrier each paid its own
    * lineitem pass for identical numbers.
    */
  private def heatModelBetas(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "heat-betas")(
      heatBetas(heatStats(heatProxyFrame(s, d))))

  /** Per-run heat attribution (heat_adjustment.py:99-115): heat_cost =
    * β_heat · hinge, neutral = raw − heat_cost. The 1-row betas side is
    * broadcast; the per-run side is map-only — no second shuffle.
    */
  def heatCost(f: DataFrame, betas: DataFrame): DataFrame =
    attributed(f.crossJoin(broadcast(betas)))

  /** [[heatCost]] with the betas fitted on `f` itself and the fit's
    * `n >= minN` gate (no rows below it). One aggregate gathers the fit's
    * sufficient statistics and `f`'s rows, so `f` is evaluated once.
    */
  def heatCostSelfFit(f: DataFrame, minN: Int): DataFrame =
    attributed(f.agg(heatStatsCols.head, heatStatsCols.tail :+
        collect_list(struct(f.columns.map(col): _*)).as("runs"): _*)
      .where(col("n") >= minN)
      .select(explode(col("runs")).as("run"), expr(hBHeat).as("b_heat"))
      .select("run.*", "b_heat"))

  private def attributed(df: DataFrame): DataFrame =
    df.withColumn("heat_cost", col("b_heat") * col("x2"))
      .withColumn("neutral_hr", col("y") - col("heat_cost"))

  /** Full heat chain with the reference's n ≥ minN gate
    * (heat_adjustment.py:117-294 compute_trend): one row — either
    * status='insufficient_data' with the row count, or status='ok' with the
    * coefficients and the time trend (slope + p-value via the native
    * Student-t expression) of the climate-neutral HR.
    *
    * One aggregate over `f`: the [[heatStats]] covariances plus
    * `covar_pop(y, y)` and `min(x3)`. The neutral series y − b_heat·x2 is
    * never materialized; its trend over x3 follows in closed form from the
    * same row: slope = (c3y − b·c23) / c33 and
    * r = (c3y − b·c23) / sqrt((cyy − 2b·c2y + b²·c22) · c33), with b =
    * b_heat. `b0` is the intercept at the earliest `x3` (the mean is taken
    * as avg(x3) − min(x3)), so a caller may pass raw day numbers: every
    * output is invariant to a shift of `x3`. Rows with a null in y, x1, x2
    * or x3 are dropped first, listwise as an OLS fit does; the façade's
    * observations carry none.
    */
  def heatTrend(f: DataFrame, minN: Int = 10): DataFrame = {
    val fit = f.na.drop(Seq("y", "x1", "x2", "x3"))
      .agg(heatStatsCols.head, heatStatsCols.tail ++ Seq(
        covar_pop(col("y"), col("y")).as("cyy"), min("x3").as("x3_min")): _*)
      .withColumn("m3", col("m3") - col("x3_min"))
      .select(col("*"), expr(hBPace).as("b_pace"), expr(hBHeat).as("b_heat"),
        expr(hBDays).as("b_days"), expr(hB0).as("b0"))
    val b = col("b_heat")
    val cov = col("c3y") - b * col("c23")
    val varProduct = (col("cyy") - lit(2.0) * b * col("c2y") +
      b * b * col("c22")) * col("c33")
    val gate = col("n") >= minN
    fit.select(
      when(gate, lit("ok")).otherwise(lit("insufficient_data")).as("status"),
      col("n"),
      when(gate, col("b_pace")).as("b_pace"),
      when(gate, b).as("b_heat"),
      when(gate, col("b_days")).as("b_days"),
      when(gate, col("b0")).as("b0"),
      when(gate && col("c33") > 0, cov / col("c33")).as("neutral_hr_slope"),
      when(gate, StudentT.corrPValue(
        when(varProduct > 0, cov / sqrt(varProduct)), col("n")))
        .as("neutral_hr_p_value"))
  }

  /** Star-schema proxy observations for the heat-chain oracle queries
    * (the real athlete frame is built the same way from activities:
    * y=avg_heart_rate, x1=avg_pace, x2=heatHinge(temp), x3=days).
    */
  private def heatProxyFrame(s: SparkSession, d: String,
      keys: Boolean = false): DataFrame = {
    val base = Seq(
      col("l_extendedprice").as("y"),
      col("l_quantity").as("x1"),
      greatest(col("l_tax") - 0.04, lit(0.0)).as("x2"),
      datediff(col("l_shipdate"), lit("1992-01-01").cast("date"))
        .cast("double").as("x3"))
    val cols =
      if (keys) Seq(col("l_orderkey"), col("l_linenumber")) ++ base else base
    Tables.lineitem(s, d).select(cols: _*)
  }

  // ---------------------------------------------------------------- queries

  val entries: Seq[Q] = Seq(
    Q("q_linreg",
      s"""SELECT user_id,
        |  regr_slope(value, x) AS slope,
        |  regr_intercept(value, x) AS intercept,
        |  regr_r2(value, x) AS r2,
        |  CAST(regr_count(value, x) AS BIGINT) AS n
        |FROM (SELECT user_id, value,
        |        CAST(epoch_ms(ts)//1000 - $X0 AS DOUBLE) AS x FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("x", (unix_timestamp(col("ts")) - X0).cast("double"))
        .groupBy("user_id")
        .agg(
          regr_slope(col("value"), col("x")).as("slope"),
          regr_intercept(col("value"), col("x")).as("intercept"),
          regr_r2(col("value"), col("x")).as("r2"),
          regr_count(col("value"), col("x")).as("n"))
        .orderBy("user_id")
    },

    // Trend classification at the 5 % level WITHOUT a t-CDF: two-sided
    // p > 0.05 ⟺ |t| < t_crit(df, 0.975), and the critical value is plain
    // data — an exact table for df ≤ 30 plus the Cornish-Fisher asymptotic
    // expansion z + c1/df + c2/df² + c3/df³ (max abs error 1.8e-6 for
    // df ≥ 31, far inside any boundary) — so BOTH engines classify with
    // the identical arithmetic and the query is fully oracle-checked
    // (it was rows-only while the classifier needed the t-CDF; exact
    // p-values remain on the ScalaTest'd domain layer, StudentT /
    // TrendFragility). corr() NaN (zero-variance value) is normalized to
    // NULL to match DuckDB before anything touches it.
    Q("q_trend_class",
      s"""WITH g AS (
        |  SELECT user_id, regr_slope(value, x) AS slope, corr(value, x) AS r0,
        |    CAST(regr_count(value, x) AS BIGINT) AS n
        |  FROM (SELECT user_id, value,
        |          CAST(epoch_ms(ts)//1000 - $X0 AS DOUBLE) AS x FROM events) t
        |  GROUP BY 1),
        |s AS (SELECT user_id, slope, n,
        |    CASE WHEN isnan(r0) THEN NULL ELSE r0 END AS r FROM g),
        |w AS (SELECT user_id, slope, n, r, $trendTSql AS t_stat FROM s)
        |SELECT user_id, slope, t_stat, n, $trendDirSql AS direction
        |FROM w ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("x", (unix_timestamp(col("ts")) - X0).cast("double"))
        .groupBy("user_id")
        .agg(
          regr_slope(col("value"), col("x")).as("slope"),
          // NOT corr(): Spark's corr throws DIVIDE_BY_ZERO under ANSI on a
          // zero-variance series (a constant-metric user would kill the
          // whole job); the try_divide co-moment form yields NULL there —
          // exactly DuckDB corr's semantics — and the same value elsewhere
          try_divide(covar_pop(col("value"), col("x")),
            stddev_pop(col("value")) * stddev_pop(col("x"))).as("r0"),
          regr_count(col("value"), col("x")).cast("long").as("n"))
        .withColumn("r", when(isnan(col("r0")), lit(null)).otherwise(col("r0")))
        .withColumn("t_stat", expr(trendTSql))
        .select(col("user_id"), col("slope"), col("t_stat"), col("n"),
          expr(trendDirSql).as("direction"))
        .orderBy("user_id")
    },

    Q("q_acwr",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_idx,
        |    sum(value) AS daily_v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, day, acwr, zone FROM (
        |  SELECT user_id, day, acute, chronic,
        |    CASE WHEN chronic > 0 THEN acute / chronic END AS acwr,
        |    CASE WHEN chronic <= 0 THEN NULL
        |         WHEN acute / chronic < 0.8 THEN 'low'
        |         WHEN acute / chronic <= 1.3 THEN 'optimal'
        |         WHEN acute / chronic <= 1.5 THEN 'caution'
        |         ELSE 'high' END AS zone
        |  FROM (
        |    SELECT user_id, day,
        |      sum(daily_v) OVER (PARTITION BY user_id ORDER BY day_idx
        |        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS acute,
        |      sum(daily_v) OVER (PARTITION BY user_id ORDER BY day_idx
        |        RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) / 4.0 AS chronic
        |    FROM daily) a) b
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum("value").as("daily_v"))
        .withColumn("day_idx",
          datediff(col("day"), lit("1990-01-01")).cast("long"))
      acwr(daily, "user_id", "day_idx", "daily_v")
        .select("user_id", "day", "acwr", "zone")
        .orderBy("user_id", "day")
    },

    Q("q_ols_2var",
      """WITH s AS (
        |  SELECT covar_pop(l_quantity, l_quantity) AS c11,
        |    covar_pop(l_quantity, l_discount) AS c12,
        |    covar_pop(l_discount, l_discount) AS c22,
        |    covar_pop(l_quantity, l_extendedprice) AS c1y,
        |    covar_pop(l_discount, l_extendedprice) AS c2y,
        |    avg(l_quantity) AS m1, avg(l_discount) AS m2,
        |    avg(l_extendedprice) AS my, count(*) AS n
        |  FROM lineitem)
        |SELECT
        |  (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
        |  (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2,
        |  my - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * m1
        |     - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * m2 AS b0,
        |  n
        |FROM s""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val stats = li.agg(
        covar_pop(col("l_quantity"), col("l_quantity")).as("c11"),
        covar_pop(col("l_quantity"), col("l_discount")).as("c12"),
        covar_pop(col("l_discount"), col("l_discount")).as("c22"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("c1y"),
        covar_pop(col("l_discount"), col("l_extendedprice")).as("c2y"),
        avg("l_quantity").as("m1"), avg("l_discount").as("m2"),
        avg("l_extendedprice").as("my"), count(lit(1)).as("n"))
      val det = col("c11") * col("c22") - col("c12") * col("c12")
      // try_divide: a singular system (collinear features) yields NULL
      // betas — DuckDB's native /0 semantics — instead of an ANSI crash
      val b1 = try_divide(
        col("c22") * col("c1y") - col("c12") * col("c2y"), det)
      val b2 = try_divide(
        col("c11") * col("c2y") - col("c12") * col("c1y"), det)
      stats.select(
        b1.as("b1"), b2.as("b2"),
        (col("my") - b1 * col("m1") - b2 * col("m2")).as("b0"),
        col("n"))
    },

    Q("q_ols_hinge",
      """WITH f AS (
        |  SELECT l_extendedprice AS y, l_quantity AS x1,
        |    greatest(l_tax - 0.04, 0.0) AS x2
        |  FROM lineitem),
        |s AS (
        |  SELECT covar_pop(x1, x1) AS c11, covar_pop(x1, x2) AS c12,
        |    covar_pop(x2, x2) AS c22, covar_pop(x1, y) AS c1y,
        |    covar_pop(x2, y) AS c2y, avg(x1) AS m1, avg(x2) AS m2,
        |    avg(y) AS my, count(*) AS n
        |  FROM f)
        |SELECT
        |  (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
        |  (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b_hinge,
        |  my - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * m1
        |     - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * m2 AS b0,
        |  n
        |FROM s""".stripMargin) { (s, d) =>
      val f = Tables.lineitem(s, d).select(
        col("l_extendedprice").as("y"),
        col("l_quantity").as("x1"),
        greatest(col("l_tax") - 0.04, lit(0.0)).as("x2"))
      val stats = f.agg(
        covar_pop(col("x1"), col("x1")).as("c11"),
        covar_pop(col("x1"), col("x2")).as("c12"),
        covar_pop(col("x2"), col("x2")).as("c22"),
        covar_pop(col("x1"), col("y")).as("c1y"),
        covar_pop(col("x2"), col("y")).as("c2y"),
        avg("x1").as("m1"), avg("x2").as("m2"),
        avg("y").as("my"), count(lit(1)).as("n"))
      val det = col("c11") * col("c22") - col("c12") * col("c12")
      // try_divide: a singular system (collinear features) yields NULL
      // betas — DuckDB's native /0 semantics — instead of an ANSI crash
      val b1 = try_divide(
        col("c22") * col("c1y") - col("c12") * col("c2y"), det)
      val b2 = try_divide(
        col("c11") * col("c2y") - col("c12") * col("c1y"), det)
      stats.select(
        b1.as("b1"), b2.as("b_hinge"),
        (col("my") - b1 * col("m1") - b2 * col("m2")).as("b0"),
        col("n"))
    },

    // Heat-adjustment chain (heat_adjustment.py:117-294) on star-schema
    // proxies: y=l_extendedprice (HR), x1=l_quantity (pace),
    // x2=greatest(l_tax-0.04,0) (heat hinge), x3=days since 1992-01-01
    // (time trend). Betas via Cramer on the 3×3 centered normal equations —
    // the SAME generated formula strings run in both dialects.
    Q("q_heat_model",
      s"""WITH f AS (
        |  SELECT l_extendedprice AS y, l_quantity AS x1,
        |    greatest(l_tax - 0.04, 0.0) AS x2,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS x3
        |  FROM lineitem),
        |s AS (
        |  SELECT $hStatsSql
        |  FROM f),
        |b AS (
        |  SELECT $hBPace AS b_pace, $hBHeat AS b_heat, $hBDays AS b_days,
        |    $hB0 AS b0, n
        |  FROM s)
        |SELECT b.b_pace, b.b_heat, b.b_days, b.b0, b.n,
        |  regr_slope(f.y - b.b_heat * f.x2, f.x3) AS neutral_slope
        |FROM f, b
        |GROUP BY b.b_pace, b.b_heat, b.b_days, b.b0, b.n""".stripMargin) {
      (s, d) =>
        val f = heatProxyFrame(s, d)
        val betas = heatModelBetas(s, d)
        f.crossJoin(broadcast(betas))
          .groupBy("b_pace", "b_heat", "b_days", "b0", "n")
          .agg(regr_slope(col("y") - col("b_heat") * col("x2"), col("x3"))
            .as("neutral_slope"))
          .select("b_pace", "b_heat", "b_days", "b0", "n", "neutral_slope")
    },

    Q("q_heat_cost",
      s"""WITH f AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice AS y,
        |    l_quantity AS x1, greatest(l_tax - 0.04, 0.0) AS x2,
        |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS DOUBLE) AS x3
        |  FROM lineitem),
        |s AS (
        |  SELECT $hStatsSql
        |  FROM f),
        |b AS (
        |  SELECT $hBHeat AS b_heat FROM s)
        |SELECT f.l_orderkey, f.l_linenumber, f.y AS raw_hr,
        |  b.b_heat * f.x2 AS heat_cost,
        |  f.y - b.b_heat * f.x2 AS neutral_hr
        |FROM f, b
        |ORDER BY f.l_orderkey, f.l_linenumber, f.y, f.x2""".stripMargin) { (s, d) =>
      val f = heatProxyFrame(s, d, keys = true)
      val betas = heatModelBetas(s, d).select("b_heat")
      // ORDER BY is TOTAL on (okey, ln, y, x2): the synthetic lineitem has
      // duplicate (l_orderkey, l_linenumber) pairs (45832 distinct per
      // 60000 rows at sf0.01), so the key-only sort left tie order
      // engine-dependent — latent until the ×100 rung, where Spark's
      // distributed sort and DuckDB's stable single-node sort interleave
      // ties differently (caught by the sf10 gate). Rows tying on all four
      // are bit-identical in every projected column (all are functions of
      // y and x2), so the residual order is immaterial. Sort BEFORE the
      // projection (x2 is not an output column); the project is narrow and
      // preserves the order.
      heatCost(f, betas)
        .orderBy("l_orderkey", "l_linenumber", "y", "x2")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("y").as("raw_hr"), col("heat_cost"), col("neutral_hr"))
    },

    // Distributed-Gram OLS with p-values and VIF. The Spark side solves the
    // Gram system and takes exact p from the commons-math t-CDF; the oracle
    // re-derives every column independently in DuckDB — betas/SE/σ²/R²/VIF
    // as closed-form arithmetic over one covariance row, and the p-value via
    // the Lentz incomplete-beta CF above (DuckDB has lgamma but no t-CDF).
    // Intercept SE uses Var(b0) = σ²(1 + mᵀC⁻¹m)/n from the block inverse
    // of X'X (standard identity; C = population covariance of the x's).
    Q("q_ols_inference", {
      val det = "(c11 * c22 - c12 * c12)"
      val b1 = s"((c22 * c1y - c12 * c2y) / $det)"
      val b2 = s"((c11 * c2y - c12 * c1y) / $det)"
      val b0 = s"(my - $b1 * m1 - $b2 * m2)"
      val ssePerN = s"(cyy - $b1 * c1y - $b2 * c2y)"
      val sigma2 = s"(n * $ssePerN / (n - 3))"
      val se1 = s"sqrt($sigma2 * c22 / (n * $det))"
      val se2 = s"sqrt($sigma2 * c11 / (n * $det))"
      val se0 = s"sqrt($sigma2 * (1.0 + " +
        s"(m1*m1*c22 - 2*m1*m2*c12 + m2*m2*c11) / $det) / n)"
      val r2 = s"(1.0 - $ssePerN / cyy)"
      val vif = "(1.0 / (1.0 - c12 * c12 / (c11 * c22)))"
      s"""WITH s AS (
         |  SELECT covar_pop(l_quantity, l_quantity) AS c11,
         |    covar_pop(l_quantity, l_discount) AS c12,
         |    covar_pop(l_discount, l_discount) AS c22,
         |    covar_pop(l_quantity, l_extendedprice) AS c1y,
         |    covar_pop(l_discount, l_extendedprice) AS c2y,
         |    covar_pop(l_extendedprice, l_extendedprice) AS cyy,
         |    avg(l_quantity) AS m1, avg(l_discount) AS m2,
         |    count(*) AS n, avg(l_extendedprice) AS my
         |  FROM lineitem),
         |terms AS (
         |  SELECT 'intercept' AS term, $b0 AS beta, $se0 AS std_err,
         |    $r2 AS r2, n, CAST(NULL AS DOUBLE) AS vif,
         |    CAST(n - 3 AS DOUBLE) AS dfree FROM s
         |  UNION ALL SELECT 'l_quantity', $b1, $se1, $r2, n, $vif,
         |    CAST(n - 3 AS DOUBLE) FROM s
         |  UNION ALL SELECT 'l_discount', $b2, $se2, $r2, n, $vif,
         |    CAST(n - 3 AS DOUBLE) FROM s)
         |SELECT term, beta, std_err,
         |  ${duckTPValue("beta / std_err", "dfree")} AS p_value,
         |  r2, n, vif
         |FROM terms ORDER BY term""".stripMargin
    }) { (s, d) =>
      olsInference(s, Tables.lineitem(s, d), "l_extendedprice",
        Seq("l_quantity", "l_discount")).orderBy("term")
    },

    // Everything the inference chain computes EXCEPT the p-value is plain
    // arithmetic over one covariance row — so it gets a full oracle:
    // betas (Cramer), residual sigma², standard errors from the inverted
    // 2×2 normal matrix, t statistics, and VIF = 1/(1−corr(x1, x2)²). Only the
    // t→p step needs the t-CDF DuckDB lacks (q_ols_inference above stays
    // rows-only for exactly that column; TrendClassSpec-style critical
    // values would classify, but the reference's deliverable here IS the
    // p-value, so the honest split is: numbers checked cross-engine,
    // p-values unit-tested on the domain layer). One distributed
    // aggregate; the algebra runs on a 1-row frame — scale-free.
    Q("q_ols_se_vif", {
      val det = "(c11 * c22 - c12 * c12)"
      val b1 = s"(CASE WHEN $det = 0 THEN NULL ELSE (c22 * c1y - c12 * c2y) / $det END)"
      val b2 = s"(CASE WHEN $det = 0 THEN NULL ELSE (c11 * c2y - c12 * c1y) / $det END)"
      val sigma2 = s"(n * (cyy - $b1 * c1y - $b2 * c2y) / (n - 3))"
      val se1 = s"sqrt($sigma2 * c22 / (n * $det))"
      val se2 = s"sqrt($sigma2 * c11 / (n * $det))"
      val vif = "(CASE WHEN c11 * c22 = 0 OR c12 * c12 = c11 * c22 THEN NULL " +
        "ELSE 1.0 / (1.0 - c12 * c12 / (c11 * c22)) END)"
      s"""WITH s AS (
         |  SELECT covar_pop(l_quantity, l_quantity) AS c11,
         |    covar_pop(l_quantity, l_discount) AS c12,
         |    covar_pop(l_discount, l_discount) AS c22,
         |    covar_pop(l_quantity, l_extendedprice) AS c1y,
         |    covar_pop(l_discount, l_extendedprice) AS c2y,
         |    covar_pop(l_extendedprice, l_extendedprice) AS cyy,
         |    count(*) AS n
         |  FROM lineitem)
         |SELECT $b1 AS b1, $se1 AS se1, $b1 / $se1 AS t1,
         |  $b2 AS b2, $se2 AS se2, $b2 / $se2 AS t2,
         |  $sigma2 AS sigma2, $vif AS vif, n
         |FROM s""".stripMargin
    }) { (s, d) =>
      val det = "(c11 * c22 - c12 * c12)"
      val b1 = s"(CASE WHEN $det = 0 THEN NULL ELSE (c22 * c1y - c12 * c2y) / $det END)"
      val b2 = s"(CASE WHEN $det = 0 THEN NULL ELSE (c11 * c2y - c12 * c1y) / $det END)"
      val sigma2 = s"(n * (cyy - $b1 * c1y - $b2 * c2y) / (n - 3))"
      val se1 = s"sqrt($sigma2 * c22 / (n * $det))"
      val se2 = s"sqrt($sigma2 * c11 / (n * $det))"
      val vif = "(CASE WHEN c11 * c22 = 0 OR c12 * c12 = c11 * c22 THEN NULL " +
        "ELSE 1.0 / (1.0 - c12 * c12 / (c11 * c22)) END)"
      Tables.lineitem(s, d).agg(
        covar_pop(col("l_quantity"), col("l_quantity")).as("c11"),
        covar_pop(col("l_quantity"), col("l_discount")).as("c12"),
        covar_pop(col("l_discount"), col("l_discount")).as("c22"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("c1y"),
        covar_pop(col("l_discount"), col("l_extendedprice")).as("c2y"),
        covar_pop(col("l_extendedprice"), col("l_extendedprice")).as("cyy"),
        count(lit(1)).as("n"))
        .selectExpr(s"$b1 AS b1", s"$se1 AS se1", s"$b1 / $se1 AS t1",
          s"$b2 AS b2", s"$se2 AS se2", s"$b2 / $se2 AS t2",
          s"$sigma2 AS sigma2", s"$vif AS vif", "n")
    },

    Q("q_pareto_frontier_fit",
      s"""WITH pts AS (
        |  SELECT user_id, event_id, value,
        |    CAST(epoch_ms(ts)//1000 - $X0 AS DOUBLE) AS x
        |  FROM events),
        |fr AS (
        |  SELECT * FROM (
        |    SELECT user_id, value, x,
        |      max(value) OVER (PARTITION BY user_id ORDER BY x DESC, event_id DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |    FROM pts) t
        |  WHERE runmax IS NULL OR value > runmax)
        |SELECT user_id, regr_slope(value, x) AS slope,
        |  regr_intercept(value, x) AS intercept,
        |  CAST(regr_count(value, x) AS BIGINT) AS n_frontier
        |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val pts = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("value"),
        (unix_timestamp(col("ts")) - X0).cast("double").as("x"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("x").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      pts.withColumn("runmax", max(col("value")).over(w))
        .filter(col("runmax").isNull || col("value") > col("runmax"))
        .groupBy("user_id")
        .agg(
          regr_slope(col("value"), col("x")).as("slope"),
          regr_intercept(col("value"), col("x")).as("intercept"),
          regr_count(col("value"), col("x")).as("n_frontier"))
        .orderBy("user_id")
    },

    // FEATURE CORRELATION MATRIX: pairwise Pearson r over the lineitem
    // numeric columns — the feature-audit pass a training pipeline runs
    // before model fitting (collinear features inflate variance; the OLS
    // VIF query is the per-model view, this is the whole-table view).
    // ONE aggregate pass computes every sufficient statistic (n, Σx,
    // Σx², Σxy per pair) with map-side partials — never one scan per
    // pair — and the r formula is a SHARED string evaluated on the same
    // stats in both dialects, round(·,6) absorbing partial-sum order.
    Q("q_corr_matrix", {
      val stats = CorrCols.map(c =>
        s"sum($c) AS s_$c, sum($c * $c) AS q_$c").mkString(",\n        |  ")
      val prods = corrPairsOf(CorrCols).map { case (x, y) =>
        s"sum($x * $y) AS p_${x}_$y" }.mkString(",\n        |  ")
      val rows = corrPairsOf(CorrCols).map { case (x, y) =>
        s"SELECT '$x' AS x_col, '$y' AS y_col, n, ${corrFormula(x, y)} AS corr_r FROM st"
      }.mkString("\n        |UNION ALL ")
      s"""WITH st AS (SELECT count(*) AS n,
        |  $stats,
        |  $prods
        |FROM lineitem)
        |$rows
        |ORDER BY x_col, y_col""".stripMargin
    }) { (s, d) => corrMatrix(Tables.lineitem(s, d), CorrCols) }
  )

  /** Pairwise Pearson correlation matrix over `cols`, computed from ONE
    * sufficient-statistics aggregate pass (n, Σx, Σx², Σxy per pair —
    * map-side combined; never one scan per pair). Zero-variance columns
    * yield NULL r (nullif divisor), not a crash. Returns one row per
    * unordered pair: (x_col, y_col, n, corr_r), r rounded to 6 dp.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = corrPairsOf(cols)
    val aggs =
      cols.flatMap(c => Seq(s"sum($c) AS s_$c", s"sum($c * $c) AS q_$c")) ++
      pairs.map { case (x, y) => s"sum($x * $y) AS p_${x}_$y" }
    val stackArgs = pairs.map { case (x, y) =>
      s"'$x', '$y', ${corrFormula(x, y)}" }.mkString(", ")
    df.agg(expr("count(*)").as("n"), aggs.map(expr): _*)
      .select(col("n"), expr(
        s"stack(${pairs.size}, $stackArgs) AS (x_col, y_col, corr_r)"))
      .select("x_col", "y_col", "n", "corr_r")
      .orderBy("x_col", "y_col")
  }

  /** Columns of the registered correlation matrix query (lazy:
    * referenced from the `entries` initializer above).
    */
  private lazy val CorrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def corrPairsOf(cols: Seq[String]): Seq[(String, String)] =
    for {
      (x, i) <- cols.zipWithIndex
      y <- cols.drop(i + 1)
    } yield (x, y)

  /** Pearson r from the sufficient statistics — IDENTICAL text in both
    * dialects (`nullif` guards the zero-variance divisor in each).
    */
  private def corrFormula(x: String, y: String): String =
    s"round((n * p_${x}_$y - s_$x * s_$y) / " +
      s"nullif(sqrt(n * q_$x - s_$x * s_$x) * " +
      s"sqrt(n * q_$y - s_$y * s_$y), 0), 6)"
}
