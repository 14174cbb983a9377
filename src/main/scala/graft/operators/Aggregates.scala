package graft.operators

import graft.{Plans, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Re-expresses the reference's aggregate surface — per-group stats blocks
  * (splits_query_builder.py:152-173), time-range stats
  * (readers/time_series.py:56-130), calendar buckets
  * (web/queries/trends.py:102-171), conditional-halves decoupling
  * (readers/durability.py:120-146), weighted averages
  * (inserters/performance_trends.py:263-318), coefficient of variation
  * (performance_trends.py:62-104,339-348), profiler & histogram
  * (readers/utility.py:100-146,252-278), share-of-total zone distribution
  * (inserters/hr_efficiency.py:137-156) — over the synthetic star schema.
  *
  * Scale notes: every operator here is a single hash-aggregate plan
  * (partial map-side combine + final), so it scales linearly with input and
  * shuffles only the group keys. Exact `median` is used (not
  * percentile_approx) because the DuckDB oracle is exact — at the 100 TB
  * tier the approx variants live in Similarity/Dedup paths, never in
  * oracle-checked operators (SURVEY §4.2).
  */
object Aggregates {

  /** AVG/MEDIAN/STDDEV/MIN/MAX stats block per group per metric.
    *
    * Medians come from [[groupedMedians]] (a histogram + partitioned
    * cumulative window), NOT Spark's exact `median` aggregate: `median` is a
    * typed-imperative aggregate that buffers every value per group on the
    * executors, which neither scales nor amortizes (measured 1.4 s at sf0.1
    * vs DuckDB 0.06 s). The remaining moments are a plain
    * partial+final hash aggregate over the raw rows.
    */
  def statsBlock(df: DataFrame, groupCols: Seq[String], metrics: Seq[String]): DataFrame =
    statsBlock(df, groupCols, metrics, groupedMedians(df, groupCols, metrics))

  /** [[statsBlock]] with its medians given: `medians` is
    * [[groupedMedians]] of the same `df`, `groupCols` and `metrics`, e.g.
    * a shared frame that repeated executions read instead of redoing the
    * histogram + window work.
    */
  def statsBlock(df: DataFrame, groupCols: Seq[String], metrics: Seq[String],
      medians: DataFrame): DataFrame = {
    val aggs = metrics.flatMap { m =>
      Seq(
        avg(col(m)).as(s"avg_$m"),
        stddev(col(m)).as(s"stddev_$m"),
        min(col(m)).as(s"min_$m"),
        max(col(m)).as(s"max_$m"))
    } :+ count(lit(1)).as("n_rows")
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .join(medians, groupCols, "left")
  }

  /** Exact per-group interpolated medians for several metrics in one plan:
    * unpivot the metrics (`stack` — single scan), build the
    * (group, metric, value) → count histogram, then resolve the two middle
    * ranks with a cumulative-sum window PARTITIONED by (group, metric).
    * The sort is over per-group distinct values, never raw rows, and never
    * global — the partitioned cousin of [[histogramMedian]].
    */
  def groupedMedians(df: DataFrame, groupCols: Seq[String],
      metrics: Seq[String]): DataFrame = {
    val stackExpr = s"stack(${metrics.size}, " +
      metrics.map(m => s"'$m', CAST($m AS DOUBLE)").mkString(", ") +
      ") AS (m, v)"
    val g = df.select(groupCols.map(col) :+ expr(stackExpr): _*)
      .where(col("v").isNotNull)
      .groupBy((groupCols :+ "m" :+ "v").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val part = (groupCols :+ "m").map(col)
    val wCum = Window.partitionBy(part: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(part: _*)
    val sel = g
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy(part: _*)
      .agg(((min(when(col("cum") >= floor((col("n") + 1) / lit(2.0)), col("v"))) +
        min(when(col("cum") >= ceil((col("n") + 1) / lit(2.0)), col("v")))) / 2.0)
        .as("med"))
    sel.groupBy(groupCols.map(col): _*)
      .pivot("m", metrics)
      .agg(first("med"))
      .select(groupCols.map(col) ++
        metrics.map(m => col(m).as(s"median_$m")): _*)
  }

  /** Half-open time-range stats: ts ∈ [from, until). Reference uses
    * half-open ranges for time windows (time_series.py:73-76).
    */
  def timeRangeStats(df: DataFrame, tsCol: String, from: String, until: String,
      valueCol: String): DataFrame =
    df.filter(col(tsCol) >= lit(from).cast("timestamp") &&
              col(tsCol) < lit(until).cast("timestamp"))
      .agg(
        avg(col(valueCol)).as("avg_v"),
        stddev(col(valueCol)).as("stddev_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"),
        count(col(valueCol)).as("n_rows"))

  /** Calendar month bucket (strftime('%Y-%m') in the reference). */
  def monthBucket(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(date_format(col(tsCol), "yyyy-MM").as("month"))
      .agg(sum(col(valueCol)).as("total_v"), count(lit(1)).as("n_rows"))

  /** Calendar week bucket, Monday-start (reference computes week start from
    * isodow and a configurable week_start_day; Monday is the default).
    */
  def weekBucket(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(to_date(date_trunc("week", col(tsCol))).as("week_start"))
      .agg(sum(col(valueCol)).as("total_v"), count(lit(1)).as("n_rows"))

  /** Week start with a configurable start day (reference pkg/utils/week.py:
    * `offset = (d.weekday() - start_day) % 7; start = d - offset`, start_day
    * 0=Monday … 6=Sunday in Python weekday convention). Spark's dayofweek is
    * 1=Sunday … 7=Saturday, so weekday = (dayofweek + 5) % 7 and the offset
    * simplifies to (dayofweek + 5 - startDay) % 7, which is non-negative for
    * startDay in 0..6 — no sign fix-up needed. Pure date arithmetic: stays
    * inside whole-stage codegen and groups with one hash exchange.
    */
  def weekStartCol(dateCol: Column, startDay: Int): Column = {
    require(startDay >= 0 && startDay <= 6,
      s"week start day must be 0..6 (0=Monday), got $startDay")
    val d = to_date(dateCol)
    date_sub(d, (dayofweek(d) + lit(5) - lit(startDay)) % 7)
  }

  /** Calendar week bucket honouring the athlete's configured week start
    * (reference web/queries/trends.py:102-111 routes every volume-trend
    * chart through week_start(d, week_start_day)).
    */
  def weekBucketCfg(df: DataFrame, tsCol: String, valueCol: String,
      startDay: Int): DataFrame =
    df.groupBy(weekStartCol(col(tsCol), startDay).as("week_start"))
      .agg(sum(col(valueCol)).as("total_v"), count(lit(1)).as("n_rows"))

  /** Read the configured week-start day from an athlete_profile frame
    * (reference pkg/utils/week.py get_week_start_day): falls back to Monday
    * (0) when the row or the column value is absent. The profile is a
    * 1-row-per-user table — the collect is bounded by the user count.
    */
  def weekStartDayOf(profile: DataFrame, userId: String = "default"): Int =
    profile.filter(col("user_id") === userId)
      .select(col("week_start_day").cast("int"))
      .collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .getOrElse(0)

  /** Conditional-halves aggregation (cardiac-decoupling shape): one pass
    * computing avg(value) for each temporal half of every group, split at
    * the group's timestamp midpoint. Two aggregations total; the per-group
    * bounds side is tiny and broadcast.
    */
  def conditionalHalves(df: DataFrame, partCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // Per-key bounds as a window over the clustering the conditional
    // aggregate needs, not a bounds aggregate + broadcast join: that
    // re-scans the input and broadcasts a key-cardinality frame. One
    // exchange on partCol serves bounds, halves aggregate and, under
    // Plans.clusteredBy, the final sort.
    val secs = unix_timestamp(col(tsCol))
    val w = Window.partitionBy(col(partCol))
    df.withColumn("mid", (min(secs).over(w) + max(secs).over(w)) / 2.0)
      .groupBy(col(partCol))
      .agg(
        avg(when(secs < col("mid"), col(valueCol))).as("first_avg"),
        avg(when(secs >= col("mid"), col(valueCol))).as("second_avg"))
      // try_divide: an all-zero first half yields NULL (DuckDB /0
      // semantics) instead of an ANSI crash on degenerate real data
      .withColumn("decoupling_pct",
        (try_divide(col("second_avg"), col("first_avg")) - 1.0) * 100.0)
  }

  /** Per-group share of total (zone time distribution shape). The global
    * total is a 1-row aggregate joined back — never a single-partition
    * window over the full table.
    */
  def shareOfTotal(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val grouped = df.groupBy(col(keyCol)).agg(sum(col(valueCol)).as("group_v"))
    val total = grouped.agg(sum(col("group_v")).as("total_v"))
    grouped.crossJoin(broadcast(total))
      .select(col(keyCol), col("group_v"),
        (try_divide(col("group_v"), col("total_v")) * 100.0).as("pct"))
  }

  /** Value-weighted average: Σ(metric·weight)/Σ(weight) per group
    * (distance-weighted pace / time-weighted HR in the reference).
    */
  def weightedAvg(df: DataFrame, groupCol: String, metricCol: String,
      weightCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(try_divide(sum(col(metricCol) * col(weightCol)),
        sum(col(weightCol))).as("weighted_v"))

  /** Coefficient of variation, plain and fragment-robust (rows below
    * 0.5×median(group) excluded, mirroring the GPS-fragment lap filter).
    */
  def cvRobust(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val med = df.groupBy(col(groupCol)).agg(median(col(valueCol)).as("med_v"))
    val plain = df.groupBy(col(groupCol))
      .agg(try_divide(stddev(col(valueCol)), avg(col(valueCol))).as("cv"))
    val robust = df.join(broadcast(med), groupCol)
      .filter(col(valueCol) >= col("med_v") * 0.5)
      .groupBy(col(groupCol))
      .agg(try_divide(stddev(col(valueCol)), avg(col(valueCol)))
        .as("cv_robust"))
    plain.join(robust, Seq(groupCol), "left")
  }

  /** Exact interpolated median of a (v, cnt) value histogram WITHOUT a
    * global sort or a single-partition window (the distinct-value count
    * of a continuous column grows ~linearly with data, so an unpartitioned
    * cumulative window is a one-core sort at scale). This is the classic
    * distributed selection: each round buckets the surviving candidate
    * range into `buckets` equi-width cells with ONE hash aggregate over
    * the histogram, walks the tiny per-cell summary on
    * the driver to find the cell holding the target rank, and descends into
    * it; a cell with few distinct values is fetched and resolved exactly.
    * Rounds are O(log_buckets(distinct)): 583k distinct values resolve in
    * one bucketing round + one 143-row fetch at buckets=4096.
    *
    * Bucket membership is always evaluated with the same floor expression
    * used for counting (a predicate chain), so FP edge effects cannot
    * misplace a value between the count pass and the descend pass.
    */
  def histogramMedian(hist: DataFrame, buckets: Int = 4096): Option[Double] = {
    val base = hist
      .select(col("v").cast("double").as("v"), col("cnt").cast("long").as("cnt"))
      .where(col("v").isNotNull && !isnan(col("v")))
    val head0 = base.agg(sum("cnt"), count(lit(1)), min("v"), max("v")).head()
    if (head0.isNullAt(0) || head0.getLong(0) == 0L) return None
    val n = head0.getLong(0)

    def selectRank(rank: Long): Double = {
      var cur = base
      var nd = head0.getLong(1)
      var lo = head0.getDouble(2)
      var hi = head0.getDouble(3)
      var r = rank
      val maxFetch = 65536L
      while (lo < hi && nd > maxFetch) {
        val w = (hi - lo) / buckets
        if (w <= 0.0) return lo // range below double resolution
        val bucketOf = least(floor((col("v") - lo) / w), lit(buckets - 1L))
        val cells = cur.groupBy(bucketOf.as("b"))
          .agg(sum("cnt").as("w"), count(lit(1)).as("nd"),
            min("v").as("mn"), max("v").as("mx"))
          .orderBy("b").collect()
        var acc = 0L
        var i = 0
        var descended = false
        while (i < cells.length && !descended) {
          val cw = cells(i).getLong(1)
          if (acc + cw >= r) {
            r -= acc
            nd = cells(i).getLong(2)
            val bi = cells(i).getLong(0)
            val (lo0, w0) = (lo, w) // capture for the predicate
            cur = cur.where(
              least(floor((col("v") - lo0) / w0), lit(buckets - 1L)) === bi)
            lo = cells(i).getDouble(3)
            hi = cells(i).getDouble(4)
            descended = true
          } else { acc += cw; i += 1 }
        }
      }
      if (lo == hi) return lo
      val rows = cur.orderBy("v").select("v", "cnt").collect()
      var acc = 0L
      var i = 0
      while (i < rows.length) {
        acc += rows(i).getLong(1)
        if (acc >= r) return rows(i).getDouble(0)
        i += 1
      }
      rows.last.getDouble(0)
    }

    val p1 = (n + 1) / 2 // 1-based lower middle
    val p2 = (n + 2) / 2 // 1-based upper middle
    val v1 = selectRank(p1)
    val v2 = if (p2 == p1) v1 else selectRank(p2)
    Some((v1 + v2) / 2.0)
  }

  /** Column profiler: one output row per profiled column with
    * min/max/avg/median/stddev/null count/exact distinct count
    * (readers/utility.py:100-146). One scan builds a
    * (col_name, value) → count histogram (`stack` unpivot + hash aggregate);
    * every statistic is computed from that bounded frame, not the raw rows.
    *
    * `decimalScale` marks columns with a fixed decimal precision (money,
    * quantities, rates — pervasive in analytics schemas): for those, avg and
    * stddev are computed from EXACT integer sufficient statistics
    * (Σ round(v·10^d)·cnt and Σ round(v·10^d)²·cnt in 38-digit decimals), so
    * the result is independent of partitioning and summation order — the
    * same bits on a laptop and on a 1000-executor cluster, and the same bits
    * the DuckDB oracle produces from the identical formula (the round-1
    * hash_match failure was FP summation-order noise, ~9e-14). Columns
    * without a scale use two-pass central moments (exact mean first, then
    * Σ(v−mean)²·cnt) — the numerically sound form; raw-moment
    * Σv² − (Σv)²/n cancels catastrophically.
    *
    * Medians use [[histogramMedian]] (distributed selection, no global
    * window); they enter the result as literals.
    */
  def profile(df: DataFrame, cols: Seq[String],
      decimalScale: Map[String, Int] = Map.empty): DataFrame =
    profileOf(valueCounts(df, cols), cols, decimalScale)

  /** The (col_name, v, cnt) histogram of `cols` that [[profile]] reads:
    * `stack` unpivot + one hash aggregate.
    */
  def valueCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', CAST($c AS DOUBLE)").mkString(", ") +
      ") AS (col_name, v)"
    df.select(expr(stackExpr))
      .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
  }

  /** [[profile]] over its histogram `g` ([[valueCounts]] of `cols`). The
    * median selection, the means and the final aggregate all read `g`, so
    * a caller that profiles the same input repeatedly passes a shared
    * frame.
    */
  def profileOf(g: DataFrame, cols: Seq[String],
      decimalScale: Map[String, Int]): DataFrame = {
    val medians: Map[String, Option[Double]] = cols.map { c =>
      c -> histogramMedian(g.where(col("col_name") === c))
    }.toMap
    val medianCol = cols.foldLeft(lit(null).cast("double")) { (acc, c) =>
      when(col("col_name") === c,
        medians(c).fold(lit(null).cast("double"))(lit(_))).otherwise(acc)
    }

    // Pass 1 for unscaled columns: exact-as-possible mean over the histogram
    // (driver-side literal), so pass 2 can sum central moments.
    val unscaled = cols.filterNot(decimalScale.contains)
    val means: Map[String, Double] =
      if (unscaled.isEmpty) Map.empty
      else g.where(col("col_name").isin(unscaled: _*) && col("v").isNotNull)
        .groupBy("col_name")
        .agg((sum(col("v") * col("cnt")) / sum("cnt")).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val meanCol = means.foldLeft(lit(Double.NaN)) { case (acc, (c, m)) =>
      when(col("col_name") === c, lit(m)).otherwise(acc)
    }

    val scaleMap = typedLit(
      cols.flatMap(c => decimalScale.get(c).map(d => c -> math.pow(10, d))).toMap)
    val iv = round(col("v") * col("s")).cast("decimal(38,0)")
    val stats = g.withColumn("s", scaleMap(col("col_name")))
      .groupBy("col_name", "s")
      .agg(
        min("v").as("min_v"),
        max("v").as("max_v"),
        sum(when(col("v").isNotNull, col("cnt")).otherwise(0L))
          .cast("double").as("nd"),
        sum(iv * col("cnt")).as("s1"),
        sum(iv * iv * col("cnt")).as("s2"),
        sum(when(col("v").isNotNull, col("v") * col("cnt"))).as("raw_s1"),
        sum(when(col("v").isNotNull, pow(col("v") - meanCol, 2) * col("cnt")))
          .as("css"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("null_cnt"),
        count(col("v")).as("distinct_cnt"))

    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val nd = col("nd")
    val avgV = when(nd > 0,
      when(col("s").isNotNull, s1d / col("s") / nd)
        .otherwise(col("raw_s1") / nd))
    val stddevV = when(nd > 1,
      when(col("s").isNotNull,
        sqrt((s2d - s1d * s1d / nd) / (nd - lit(1.0)) / (col("s") * col("s"))))
        .otherwise(sqrt(col("css") / (nd - lit(1.0)))))
    stats.select(col("col_name"), col("min_v"), col("max_v"), avgV.as("avg_v"),
      medianCol.as("median_v"), stddevV.as("stddev_v"), col("null_cnt"),
      col("distinct_cnt"))
  }

  /** Equi-width histogram: FLOOR((x-min)/width) buckets with per-bin
    * count/min/max (readers/utility.py:252-278). Bounds come from a 1-row
    * aggregate broadcast back over the scan (two passes, no global sort).
    */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    val bounds = df.agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    df.crossJoin(broadcast(bounds))
      // try_divide: a constant column (mx = mn) gives NULL width -> NULL
      // bucket, and least() then resolves like DuckDB (both engines skip
      // nulls in least) — never an ANSI crash
      .withColumn("bucket",
        least(floor(try_divide(col(valueCol) - col("mn"),
          (col("mx") - col("mn")) / nBuckets)), lit(nBuckets - 1L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(col(valueCol)).as("bin_min"),
        max(col(valueCol)).as("bin_max"))
  }

  /** Category distribution: counts plus fraction of total. */
  def distribution(df: DataFrame, keyCol: String): DataFrame = {
    val grouped = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val total = grouped.agg(sum("cnt").as("total"))
    grouped.crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("frac"))
  }

  // ---------------------------------------------------------------- queries

  val entries: Seq[Q] = Seq(
    Q("q_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          avg("l_extendedprice").as("avg_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    Q("q_stats_block",
      """SELECT l_returnflag,
        |  avg(l_quantity) AS avg_l_quantity,
        |  median(l_quantity) AS median_l_quantity,
        |  stddev(l_quantity) AS stddev_l_quantity,
        |  min(l_quantity) AS min_l_quantity,
        |  max(l_quantity) AS max_l_quantity,
        |  avg(l_extendedprice) AS avg_l_extendedprice,
        |  median(l_extendedprice) AS median_l_extendedprice,
        |  stddev(l_extendedprice) AS stddev_l_extendedprice,
        |  min(l_extendedprice) AS min_l_extendedprice,
        |  max(l_extendedprice) AS max_l_extendedprice,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val (keys, metrics) =
        (Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))
      // the medians subtree's result is a few rows per group: shared, so
      // repeated executions skip the histogram + window work
      statsBlock(li, keys, metrics, graft.Caches.frame(s, d,
        "stats-block-medians")(groupedMedians(li, keys, metrics)))
        .orderBy("l_returnflag")
    },

    Q("q_time_range_stats",
      """SELECT avg(value) AS avg_v, stddev(value) AS stddev_v,
        |  min(value) AS min_v, max(value) AS max_v, count(value) AS n_rows
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'""".stripMargin) { (s, d) =>
      // pre-filtered source: the range predicate lands on the raw nano
      // column and pushes into the parquet scan (see Tables.eventsInRange);
      // timeRangeStats' own filter is then a no-op on already-bounded rows
      timeRangeStats(
        Tables.eventsInRange(s, d,
          "2024-01-10 00:00:00", "2024-01-20 00:00:00"), "ts",
        "2024-01-10 00:00:00", "2024-01-20 00:00:00", "value")
    },

    Q("q_grouped_avg",
      """SELECT user_id, avg(value) AS avg_v, count(*) AS n_rows
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d).groupBy("user_id")
        .agg(avg("value").as("avg_v"), count(lit(1)).as("n_rows"))
        .orderBy("user_id")
    },

    Q("q_daily_load",
      """SELECT CAST(ts AS DATE) AS day, sum(value) AS daily_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum("value").as("daily_v"))
        .orderBy("day")
    },

    // PER-USER FEATURE BLOCK — the feature-store shape of a training
    // pipeline over an event stream: one row per entity with activity
    // counts, type breadth, active-day coverage, the time envelope (epoch
    // seconds, the established nano-parity convention), and value stats.
    // One user-keyed aggregation, map-side partials, skew bounded by the
    // busiest user. avg(value) is an unordered double sum — inside the
    // checker's 1e-6 relative tolerance (q_daily_load precedent), not the
    // ordered-fold discipline ln-pipelines need.
    Q("q_user_features",
      """SELECT user_id, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
        |  epoch_ms(min(ts)) // 1000 AS first_s,
        |  epoch_ms(max(ts)) // 1000 AS last_s,
        |  max(value) AS max_value, avg(value) AS mean_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("event_type").as("n_types"),
          countDistinct(col("ts").cast("date")).as("active_days"),
          unix_timestamp(min(col("ts"))).as("first_s"),
          unix_timestamp(max(col("ts"))).as("last_s"),
          max("value").as("max_value"), avg("value").as("mean_value"))
        .orderBy("user_id")
    },

    // ORDERED FUNNEL (view → click → purchase): per user, the earliest
    // view, the earliest click STRICTLY AFTER it, the earliest purchase
    // after that — the sequence-matters conversion report a plain
    // count-per-type can't express. Each stage is one user-keyed min
    // aggregate joined to the previous stage (stage frames shrink
    // monotonically, so every join's right side is the smaller one).
    // Cross-engine time parity: all comparisons run on integer EPOCH
    // MICROS (epoch_ns // 1000 ≙ the Spark reader's nanos div 1000) so
    // both engines see identical instants; truncation commutes with min.
    Q("q_event_funnel",
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |s1 AS (SELECT user_id, min(us) AS t FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.us) AS t FROM ev e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |tot AS (SELECT count(DISTINCT user_id) AS n FROM ev),
        |c1 AS (SELECT count(*) AS n FROM s1),
        |c2 AS (SELECT count(*) AS n FROM s2),
        |c3 AS (SELECT count(*) AS n FROM s3),
        |st AS (
        |  SELECT 1 AS stage, 'view' AS event_type, c1.n AS n_users,
        |    tot.n AS prev FROM c1, tot
        |  UNION ALL SELECT 2, 'click', c2.n, c1.n FROM c2, c1
        |  UNION ALL SELECT 3, 'purchase', c3.n, c2.n FROM c3, c2)
        |SELECT stage, event_type, CAST(n_users AS BIGINT) AS n_users,
        |  CASE WHEN prev = 0 THEN NULL
        |       ELSE CAST(n_users AS DOUBLE) / prev END AS conversion
        |FROM st ORDER BY stage""".stripMargin) { (s, d) =>
      // Single-pass funnel: the CTE form scans events four times
      // (s1/s2/s3/tot — the optimizer's per-branch pruning defeats
      // exchange reuse) and joins the stages back. The stage times are
      // per-user scalars over ONE clustering: t1 = min view-time, t2 =
      // min click-time after t1 (a null t1 nulls the comparison, so
      // non-s1 users get null t2 — exactly the inner join's semantics),
      // t3 likewise after t2. Three stacked unbounded windows share one
      // hash exchange; the per-user dedup aggregate is co-clustered
      // (no exchange); counts are exact integers, so equivalence with
      // the join form is order-free. One scan, 3 exchanges, 5 jobs.
      val w = Window.partitionBy("user_id")
      val per = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("t2", min(when(
          col("event_type") === "click" && col("us") > col("t1"),
          col("us"))).over(w))
        .withColumn("t3", min(when(
          col("event_type") === "purchase" && col("us") > col("t2"),
          col("us"))).over(w))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
      val one = per.agg(
        count(lit(1)).as("n0"), // one row per distinct user
        count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"))
      one.select(expr(
          "stack(3, 1, 'view', n1, n0, 2, 'click', n2, n1, " +
            "3, 'purchase', n3, n2) AS (stage, event_type, n_users, prev)"))
        .select(col("stage"), col("event_type"), col("n_users"),
          when(col("prev") === 0, lit(null).cast("double"))
            .otherwise(col("n_users").cast("double") / col("prev"))
            .as("conversion"))
        .orderBy("stage")
    },

    // RETENTION COHORTS: users grouped by first-event week (Monday-start
    // in both engines), counted distinct per calendar-week offset — the
    // (cohort, week_offset) → retention matrix. Two user-keyed
    // aggregates (first event; distinct active weeks) and one integer
    // date arithmetic join; offsets are exact day-difference // 7 since
    // both ends are week-truncated dates. Retention divides by the
    // cohort's own size (its offset-0 population) — exact int/int.
    Q("q_retention_cohorts",
      """WITH f AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY 1),
        |cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |j AS (SELECT a.user_id, f.cohort, (a.week - f.cohort) // 7
        |    AS week_offset
        |  FROM a JOIN f USING (user_id)),
        |g AS (SELECT cohort, week_offset,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM j GROUP BY 1, 2)
        |SELECT g.cohort, CAST(g.week_offset AS BIGINT) AS week_offset,
        |  g.n_users, CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        |  CAST(g.n_users AS DOUBLE) / cs.cohort_size AS retention
        |FROM g JOIN cs USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin) { (s, d) =>
      // Single-scan cohorts: the two-aggregate + join form scans events
      // twice (f and a — per-branch pruning defeats exchange reuse).
      // date_trunc('week', ·) is monotone, so trunc(min ts) = min(trunc
      // ts): the cohort is a per-user window min over the SAME distinct
      // (user, week) frame, and the user's cohort week is always in that
      // frame, so cohort_size = count of week==cohort rows. The range
      // exchange also feeds (via ReuseExchange) both aggregate branches,
      // so events is scanned once. Dedup first, so the map-side partial
      // aggregate still shrinks the shuffle.
      val a = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .dropDuplicates("user_id", "week")
        .transform(Plans.clusteredBy(_, "user_id"))
        .withColumn("cohort",
          min("week").over(Window.partitionBy("user_id")))
      val cs = a.where(col("week") === col("cohort"))
        .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      val g = a
        .select(col("cohort"),
          expr("datediff(week, cohort) div 7").cast("long").as("week_offset"),
          col("user_id"))
        .groupBy("cohort", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
      g.join(cs, Seq("cohort"))
        .select(col("cohort"), col("week_offset"), col("n_users"),
          col("cohort_size").cast("long").as("cohort_size"),
          (col("n_users").cast("double") / col("cohort_size"))
            .as("retention"))
        .orderBy("cohort", "week_offset")
    },

    // NEXT-EVENT TRANSITION MATRIX: P(next type | current type) from each
    // user's (ts, event_id)-ordered stream — the first-order Markov
    // summary behavioral models start from (and the funnel's
    // which-step-leaks diagnostic). One lead() window keyed on the
    // high-cardinality user_id, then a type-pair count; the row-normalized
    // probability is an exact int/int division under a type-keyed window
    // sum. Type-pair cardinality is |types|² — the output is
    // domain-bounded, never data-bounded.
    Q("q_event_transitions",
      """WITH p AS (SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val c = Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .where(col("to_type").isNotNull)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
      c.withColumn("p", col("n").cast("double")
          .divide(sum("n").over(Window.partitionBy("from_type"))))
        .orderBy("from_type", "to_type")
    },

    // Per-user EWMA (α = 0.5) over the (ts, event_id)-ordered value
    // stream — the recency-weighted engagement score a feature store
    // keeps next to the plain mean. The fold is SEQUENTIAL by
    // definition, so both engines run the identical ordered reduction:
    // DuckDB's list_reduce starts from the first element; the Spark fold
    // seeds with element 1 and folds the rest, the same recurrence.
    // round(·, 6) absorbs nothing here (all ops exact-identical) but
    // keeps the established float-output convention.
    Q("q_ewma",
      """WITH l AS (SELECT user_id,
        |    list(value ORDER BY epoch_ns(ts) // 1000, event_id) AS vs
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
        |  round(list_reduce(vs, (a, x) -> a * 0.5 + x * 0.5), 6) AS ewma
        |FROM l ORDER BY user_id""".stripMargin) { (s, d) =>
      // collect_list has no map-side reduction, so clustering first
      // loses nothing
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .transform(Plans.clusteredBy(_, "user_id"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("us"), col("event_id"), col("value"))))
          .as("evs"))
        .select(col("user_id"),
          size(col("evs")).cast("long").as("n_events"),
          expr("round(aggregate(slice(evs, 2, size(evs) - 1), " +
            "evs[0].value, (a, x) -> a * 0.5 + x.value * 0.5), 6)")
            .as("ewma"))
        .orderBy("user_id")
    },

    // ROLLING ACTIVE USERS (DAU + trailing-7-day WAU): the
    // engagement-metric pair every event pipeline reports. Rolling
    // DISTINCT doesn't decompose into a window aggregate (distinct is
    // not subtractable), so the exact form is the (day × active-day)
    // RANGE JOIN over the per-day distinct-user sets — bounded by
    // days × 7 × daily-actives, NOT by raw event volume, because the
    // (user, day) dedup runs first. At 100 TB the exact join gives way
    // to per-day HLL sketches merged over the trailing window; this is
    // the exact reference implementation those sketches are validated
    // against.
    Q("q_rolling_actives",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |wau AS (SELECT d.day,
        |    count(DISTINCT u.user_id) AS n_wau
        |  FROM days d JOIN ud u
        |    ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS n_dau FROM ud
        |  GROUP BY 1)
        |SELECT d.day, dau.n_dau, CAST(wau.n_wau AS BIGINT) AS n_wau,
        |  CAST(dau.n_dau AS DOUBLE) / wau.n_wau AS stickiness
        |FROM days d JOIN dau ON d.day = dau.day
        |JOIN wau ON d.day = wau.day
        |ORDER BY d.day""".stripMargin) { (s, d) =>
      // Single-scan DAU/WAU: `days` as a distinct over
      // ud collapsed (optimizer pruning) into a SEPARATE events scan, and
      // the days ⋈ dau join was an identity (dau's key set IS days — a
      // per-day aggregate over ud emits exactly ud's distinct days).
      // Deriving days from dau makes every branch share ud's and dau's
      // exchanges (ReuseExchange), so events is scanned once; results are
      // identical because the dropped join matched 1:1 by construction.
      val ud = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("n_dau"))
      val wau = dau.select("day")
        .join(ud.select(col("user_id"), col("day").as("uday")),
          col("uday").between(date_sub(col("day"), 6), col("day")))
        .groupBy("day")
        .agg(countDistinct("user_id").as("n_wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("n_dau"), col("n_wau").cast("long").as("n_wau"),
          (col("n_dau").cast("double") / col("n_wau")).as("stickiness"))
        .orderBy("day")
    },

    // NEW vs RETURNING split per day — the acquisition/retention lens on
    // daily actives (pairs with q_rolling_actives and the cohort
    // matrix). A user is "new" on their first-event day, "returning"
    // on every later active day. Two user-keyed aggregates and one
    // day-keyed count; exact int/int share.
    Q("q_new_vs_returning",
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |j AS (SELECT ud.day,
        |    CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END AS is_new
        |  FROM ud JOIN f USING (user_id))
        |SELECT day, CAST(sum(is_new) AS BIGINT) AS n_new,
        |  CAST(sum(1 - is_new) AS BIGINT) AS n_returning,
        |  CAST(sum(is_new) AS DOUBLE) / count(*) AS new_share
        |FROM j GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      // Single-scan new/returning: first_day is a per-user window min
      // over the same distinct (user, day) frame the join rebuilt — no
      // second scan, no join (same equivalence argument as
      // q_retention_cohorts).
      Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .dropDuplicates("user_id", "day") // partial dedup before shuffle
        .transform(Plans.clusteredBy(_, "user_id"))
        .withColumn("first_day",
          min("day").over(Window.partitionBy("user_id")))
        .select(col("day"),
          when(col("day") === col("first_day"), 1L).otherwise(0L).as("is_new"))
        .groupBy("day")
        .agg(sum("is_new").as("n_new"),
          sum(lit(1L) - col("is_new")).as("n_returning"),
          (sum("is_new").cast("double") / count(lit(1))).as("new_share"))
        .orderBy("day")
    },

    // PIVOT to a wide feature table: one row per user, one column per
    // event type — the layout a feature store exports for model training
    // (long→wide is the last step after the aggregations). Spark's
    // `pivot` with an EXPLICIT value list so the output schema is static
    // (a dynamic pivot would need a driver-side distinct pass — the
    // values are the domain, not the data); the oracle is the equivalent
    // conditional-sum spelling. Missing combinations coalesce to 0.
    Q("q_event_pivot", {
      val cols = Seq("click", "error", "purchase", "signup", "view")
      val duckCols = cols.map(c =>
        s"CAST(sum(CASE WHEN event_type = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS n_$c")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $duckCols
         |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
    }) { (s, d) =>
      val cols = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", cols)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
          cols.map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
        .orderBy("user_id")
    },

    // ROLLUP grouping sets — the subtotal/grand-total lattice a
    // reporting layer asks for in one pass instead of three queries.
    // grouping() flags disambiguate a NULL group value from a rollup
    // subtotal row (the classic correctness trap); ordering pins NULLS
    // FIRST explicitly because the engines' defaults differ (Spark asc =
    // nulls first, DuckDB = nulls last). One shuffle: rollup is partial
    // aggregation over the grouping-set lattice, combiner-friendly.
    Q("q_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
          "sum_qty", "n_rows")
        .orderBy(asc("g_flag"), asc("g_status"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Q("q_month_bucket",
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  sum(o_totalprice) AS total_v, count(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      monthBucket(Tables.orders(s, d), "o_orderdate", "o_totalprice")
        .orderBy("month")
    },

    Q("q_week_bucket",
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
        |  sum(o_totalprice) AS total_v, count(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      weekBucket(Tables.orders(s, d), "o_orderdate", "o_totalprice")
        .orderBy("week_start")
    },

    // Sunday-start week bucket (startDay=6 in the Python weekday convention).
    // DuckDB's isodow is 1=Monday … 7=Sunday → weekday = isodow - 1 and the
    // reference offset (weekday - start) % 7 becomes (isodow + 6 - start) % 7.
    Q("q_week_bucket_cfg",
      """SELECT CAST(o_orderdate AS DATE)
        |    - CAST((isodow(o_orderdate) + 6 - 6) % 7 AS INTEGER) AS week_start,
        |  sum(o_totalprice) AS total_v, count(*) AS n_rows
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      weekBucketCfg(Tables.orders(s, d), "o_orderdate", "o_totalprice",
        startDay = 6).orderBy("week_start")
    },

    Q("q_decoupling_halves",
      """WITH b AS (
        |  SELECT user_id, min(epoch_ms(ts)//1000) AS t0,
        |         max(epoch_ms(ts)//1000) AS t1
        |  FROM events GROUP BY 1)
        |SELECT e.user_id,
        |  avg(CASE WHEN epoch_ms(e.ts)//1000 < (b.t0 + b.t1) / 2.0
        |      THEN e.value END) AS first_avg,
        |  avg(CASE WHEN epoch_ms(e.ts)//1000 >= (b.t0 + b.t1) / 2.0
        |      THEN e.value END) AS second_avg,
        |  (avg(CASE WHEN epoch_ms(e.ts)//1000 >= (b.t0 + b.t1) / 2.0
        |       THEN e.value END) /
        |   avg(CASE WHEN epoch_ms(e.ts)//1000 < (b.t0 + b.t1) / 2.0
        |       THEN e.value END) - 1.0) * 100.0 AS decoupling_pct
        |FROM events e JOIN b USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      conditionalHalves(Plans.clusteredBy(Tables.events(s, d), "user_id"),
        "user_id", "ts", "value")
        .orderBy("user_id")
    },

    Q("q_zone_distribution",
      """WITH g AS (
        |  SELECT event_type, sum(value) AS group_v FROM events GROUP BY 1)
        |SELECT event_type, group_v,
        |  group_v / (SELECT sum(group_v) FROM g) * 100.0 AS pct
        |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
      shareOfTotal(Tables.events(s, d), "event_type", "value")
        .orderBy("event_type")
    },

    Q("q_weighted_avg",
      """SELECT l_suppkey,
        |  sum(l_extendedprice * l_quantity) / sum(l_quantity) AS weighted_v
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      weightedAvg(Tables.lineitem(s, d), "l_suppkey", "l_extendedprice",
        "l_quantity").orderBy("l_suppkey")
    },

    // Trimmed mean per user: average of the values inside the exact
    // [P05, P95] band — the robust location estimate between the mean
    // (spike-sensitive) and the median (throws away 98 % of the data);
    // the standard "average run pace excluding the GPS glitches" /
    // "average doc quality excluding outliers" aggregate. Exact
    // interpolated percentiles in both engines; the conditional average
    // is Σ/count over the SAME surviving rows, so the only float op is
    // one division. Shape: one grouped percentile pass + one broadcast
    // join + one conditional agg — all keyed on user_id.
    Q("q_trimmed_mean",
      """WITH q AS (SELECT user_id,
        |    round(quantile_cont(value, 0.05), 6) AS p05,
        |    round(quantile_cont(value, 0.95), 6) AS p95
        |  FROM events GROUP BY 1)
        |SELECT e.user_id, q.p05, q.p95,
        |  CAST(count(CASE WHEN e.value BETWEEN q.p05 AND q.p95 THEN 1 END)
        |    AS BIGINT) AS n_kept,
        |  sum(CASE WHEN e.value BETWEEN q.p05 AND q.p95 THEN e.value END)
        |    / count(CASE WHEN e.value BETWEEN q.p05 AND q.p95 THEN 1 END)
        |    AS trimmed_mean
        |FROM events e JOIN q USING (user_id)
        |GROUP BY 1, 2, 3 ORDER BY e.user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select("user_id", "value")
      // round(·, 6) on the bounds in BOTH dialects (the q_quantile_trim
      // convention): the interpolation arithmetic differs in the last ulp
      // across engines, and the band must use identical bounds
      val q = ev.groupBy("user_id").agg(
        expr("round(percentile(value, 0.05), 6)").as("p05"),
        expr("round(percentile(value, 0.95), 6)").as("p95"))
      val kept = col("value").between(col("p05"), col("p95"))
      ev.join(q, Seq("user_id"))
        .groupBy("user_id", "p05", "p95")
        .agg(count(when(kept, 1)).as("n_kept"),
          (sum(when(kept, col("value"))) / count(when(kept, 1)))
            .as("trimmed_mean"))
        .orderBy("user_id")
    },

    // Winsorization, the TRANSFORM twin of the trimmed mean: clip each
    // value into its user's exact [P05, P95] band instead of dropping the
    // tails — the per-row normalization a feature pipeline applies before
    // training (keeps row count, bounds leverage). Emits the clipped
    // value plus a direction flag so downstream audits can count clamps.
    // Same rounded-bound convention as q_trimmed_mean; the clip itself is
    // least/greatest — exact in both engines.
    Q("q_winsorize",
      """WITH q AS (SELECT user_id,
        |    round(quantile_cont(value, 0.05), 6) AS p05,
        |    round(quantile_cont(value, 0.95), 6) AS p95
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id,
        |  least(greatest(e.value, q.p05), q.p95) AS w_value,
        |  CASE WHEN e.value < q.p05 THEN 'low'
        |       WHEN e.value > q.p95 THEN 'high'
        |       ELSE 'kept' END AS clamp
        |FROM events e JOIN q USING (user_id)
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select("event_id", "user_id", "value")
      val q = ev.groupBy("user_id").agg(
        expr("round(percentile(value, 0.05), 6)").as("p05"),
        expr("round(percentile(value, 0.95), 6)").as("p95"))
      ev.join(broadcast(q), Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          least(greatest(col("value"), col("p05")), col("p95")).as("w_value"),
          when(col("value") < col("p05"), "low")
            .when(col("value") > col("p95"), "high")
            .otherwise("kept").as("clamp"))
        .orderBy("event_id")
    },

    // Robust outlier report per user: median / MAD / robust z — the
    // outlier primitive that survives the heavy-tailed metrics stddev
    // z-scores break on (a single spike inflates σ and hides itself;
    // the median and MAD don't move). z = 0.6745·(v − med)/MAD, |z| > 3.5
    // flags (the standard Iglewicz–Hoban cut). Exact interpolated medians
    // in both engines; a zero-MAD group (constant metric) yields no
    // outliers rather than a divide-by-zero. Shape: the two exact medians
    // run as WINDOW aggregates over the SAME user_id partitioning, so the
    // whole chain (median → abs-dev → MAD → flag-count) rides ONE
    // Exchange + one sort, where a join formulation pays ~4 exchanges for
    // the two grouped medians plus their joins. The final groupBy's
    // (user_id, med, mad) clustering is satisfied by the window's
    // hash(user_id) partitioning, so no further shuffle; at 100 TB the
    // medians swap to the grouped-histogram form noted on q_profile.
    Q("q_outlier_mad",
      """WITH m AS (
        |  SELECT user_id, median(value) AS med FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
        |  FROM events e JOIN m USING (user_id)),
        |md AS (SELECT user_id, median(adev) AS mad FROM d GROUP BY 1)
        |SELECT d.user_id, d.med, md.mad,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN md.mad > 0
        |    AND 0.6745 * abs(d.value - d.med) / md.mad > 3.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (user_id)
        |GROUP BY 1, 2, 3 ORDER BY d.user_id""".stripMargin) { (s, d) =>
      val wu = Window.partitionBy("user_id")
      Tables.events(s, d).select("user_id", "value")
        .withColumn("med", expr("percentile(value, 0.5)").over(wu))
        .withColumn("adev", abs(col("value") - col("med")))
        .withColumn("mad", expr("percentile(adev, 0.5)").over(wu))
        .groupBy("user_id", "med", "mad")
        .agg(count(lit(1)).as("n"),
          sum(when(col("mad") > 0 &&
            lit(0.6745) * col("adev") / col("mad") > 3.5, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select("user_id", "med", "mad", "n", "n_outliers")
        .orderBy("user_id")
    },

    Q("q_cv_robust",
      """WITH med AS (
        |  SELECT l_returnflag, median(l_quantity) AS med_v
        |  FROM lineitem GROUP BY 1),
        |plain AS (
        |  SELECT l_returnflag, stddev(l_quantity) / avg(l_quantity) AS cv
        |  FROM lineitem GROUP BY 1),
        |robust AS (
        |  SELECT l.l_returnflag,
        |    stddev(l.l_quantity) / avg(l.l_quantity) AS cv_robust
        |  FROM lineitem l JOIN med m USING (l_returnflag)
        |  WHERE l.l_quantity >= m.med_v * 0.5 GROUP BY 1)
        |SELECT p.l_returnflag, p.cv, r.cv_robust
        |FROM plain p LEFT JOIN robust r USING (l_returnflag)
        |ORDER BY 1""".stripMargin) { (s, d) =>
      cvRobust(Tables.lineitem(s, d), "l_returnflag", "l_quantity")
        .orderBy("l_returnflag")
    },

    // Oracle parity design: both engines fold
    // the SAME (value, count) histogram into EXACT integer sufficient
    // statistics (the columns carry 2 decimals, so round(v*100) is an exact
    // integer and int128 sums are order-independent), then apply the
    // IDENTICAL final double formula — bit-equal results by construction,
    // immune to partitioning/summation order on either engine.
    Q("q_profile",
      """WITH s AS (
        |  SELECT col_name, v, count(*) AS cnt FROM (
        |    SELECT 'l_quantity' AS col_name,
        |           CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |    UNION ALL
        |    SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
        |    FROM lineitem
        |    UNION ALL
        |    SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem)
        |  GROUP BY 1, 2),
        |a AS (
        |  SELECT col_name,
        |    min(v) AS min_v, max(v) AS max_v,
        |    CAST(sum(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE)
        |      AS nd,
        |    CAST(sum(CAST(round(v * 100.0) AS HUGEINT) * cnt) AS DOUBLE)
        |      AS s1d,
        |    CAST(sum(CAST(round(v * 100.0) AS HUGEINT)
        |             * CAST(round(v * 100.0) AS HUGEINT) * cnt) AS DOUBLE)
        |      AS s2d,
        |    CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT)
        |      AS null_cnt,
        |    count(v) AS distinct_cnt
        |  FROM s GROUP BY 1),
        |med AS (
        |  SELECT 'l_quantity' AS col_name, median(l_quantity) AS median_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', median(l_extendedprice) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', median(l_discount) FROM lineitem)
        |SELECT a.col_name, min_v, max_v,
        |  CASE WHEN nd > 0 THEN s1d / 100.0 / nd END AS avg_v,
        |  median_v,
        |  CASE WHEN nd > 1
        |    THEN sqrt((s2d - s1d * s1d / nd) / (nd - 1.0) / 10000.0) END
        |    AS stddev_v,
        |  null_cnt, distinct_cnt
        |FROM a JOIN med USING (col_name)
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      // the median selection jobs and the final aggregate share one
      // histogram
      profileOf(graft.Caches.frame(s, d, "profile-counts")(
        valueCounts(Tables.lineitem(s, d), cols)),
        cols, decimalScale = cols.map(_ -> 2).toMap)
        .orderBy("col_name")
    },

    Q("q_histogram",
      """WITH b AS (
        |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem)
        |SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 10)),
        |            9) AS BIGINT) AS bucket,
        |  count(*) AS cnt, min(l_extendedprice) AS bin_min,
        |  max(l_extendedprice) AS bin_max
        |FROM lineitem, b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      histogram(Tables.lineitem(s, d), "l_extendedprice", 10).orderBy("bucket")
    },

    // KEY-SKEW REPORT: the diagnostic that decides when a join needs
    // salting (Joins.saltedJoin) or AQE skew handling — hottest keys with
    // their share plus the global max/avg skew factor. One groupBy + a
    // 1-row global aggregate broadcast back onto the top-k rows.
    Q("q_skew_report",
      """WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT count(*) AS n_keys, sum(cnt) AS total,
        |    max(cnt) AS max_cnt,
        |    max(cnt) / (sum(cnt) / CAST(count(*) AS DOUBLE)) AS skew_factor
        |  FROM c),
        |r AS (SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, key) AS rnk
        |  FROM c)
        |SELECT r.rnk, r.key, r.cnt,
        |  r.cnt / CAST(g.total AS DOUBLE) AS share,
        |  g.n_keys, g.skew_factor
        |FROM r, g WHERE r.rnk <= 10
        |ORDER BY r.rnk""".stripMargin) { (s, d) =>
      keySkew(Tables.lineitem(s, d), col("l_suppkey").as("key"), 10)
    },

    Q("q_type_distribution",
      """WITH g AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT event_type, cnt,
        |  CAST(cnt AS DOUBLE) / (SELECT sum(cnt) FROM g) AS frac
        |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
      distribution(Tables.events(s, d), "event_type").orderBy("event_type")
    },

    // Full CUBE over the same two dims as q_rollup — all four grouping
    // sets in ONE pass (Catalyst expands the sets and map-side-combines
    // each; no re-scan per set). Scale note: a CUBE over k dims emits 2^k
    // rows per input row pre-combine — fine for low-cardinality dims like
    // these, the wrong tool past k≈4 (materialize the base aggregate and
    // roll up from it instead).
    Q("q_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  sum(l_quantity) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          sum("l_quantity").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
          "sum_qty", "n_rows")
        .orderBy(asc("g_flag"), asc("g_status"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // Grouped EXACT multi-percentile (p50/p90/p99 latency-style report).
    // Spark's `percentile` and DuckDB's `quantile_cont` share the same
    // linear-interpolation definition, so the values hash-match after the
    // repo's round(·,6) float-parity convention. Exact percentiles sort
    // each group's values once (single shuffle on the group key); at
    // 100 TB with few groups prefer [[approxProfile]]'s
    // percentile_approx sketch (bounded memory, no per-group sort).
    Q("q_percentiles",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99,
        |  count(*) AS n_rows
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.9)), 6).as("p90"),
          round(percentile(col("value"), lit(0.99)), 6).as("p99"),
          count(lit(1)).as("n_rows"))
        .orderBy("event_type")
    },

    // Grouped MODE with a deterministic tiebreak (count DESC, then value
    // ASC) — built-in mode() leaves ties engine-defined, so the portable
    // form is count + row_number over the (group, value) count frame.
    // That frame is value-domain-bounded, not row-bounded: the window
    // sorts |groups|·|distinct values| rows, never the input.
    Q("q_mode",
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, c_nationkey, cnt,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY cnt DESC, c_nationkey ASC) AS rnk
        |  FROM g)
        |SELECT c_mktsegment, c_nationkey AS mode_nation, cnt AS n_mode
        |FROM r WHERE rnk = 1 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val g = Tables.customer(s, d)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(desc("cnt"), asc("c_nationkey"))
      g.withColumn("rnk", row_number().over(w))
        .where(col("rnk") === 1)
        .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"),
          col("cnt").as("n_mode"))
        .orderBy("c_mktsegment")
    },

    // TUMBLING time-window aggregation (15 min) — the batch form of the
    // windowedLoadStream shape, via Spark's native `window()` (epoch-
    // aligned, so the bucket is pure integer floor math in both engines;
    // the BIGINT epoch-second start keeps the compare timestamp-type-
    // free). At 100 TB the window start is exactly the partition/
    // clustering key a stream-table layout wants — aggregation shuffles
    // once on it with map-side combine. `sum_v` sums an exact decimal
    // image of `value` and casts the total back to DOUBLE, so it does not
    // depend on the reduction order (a DOUBLE sum differs in its last bits
    // between 4 and 32 cores).
    Q("q_tumbling_load",
      """SELECT (epoch_ns(ts) // 900000000000) * 900 AS bucket_start,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  sum(value) AS sum_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          sum(col("value").cast("decimal(38,12)")).cast("double").as("sum_v"))
        .select(unix_timestamp(col("w.start")).as("bucket_start"),
          col("n_events"), col("n_users"), col("sum_v"))
        .orderBy("bucket_start")
    },

    // HOPPING (sliding) window: 30-min span every 15 min — each event
    // lands in exactly two windows. Spark's window(span, slide) explodes
    // the per-event window set; the oracle derives the same starts
    // arithmetically (s = (t div slide − k)·slide, k ∈ {0,1}). The
    // deliberate cost note: a hop factor of span/slide multiplies rows
    // INTO the shuffle — keep the ratio small at scale or pre-aggregate
    // per slide and roll the spans up from slide-level partials.
    Q("q_hopping_load",
      """SELECT (epoch_ns(ts) // 900000000000 - k) * 900 AS window_start,
        |  count(*) AS n_events,
        |  sum(value) AS sum_v
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) hops
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_v"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("n_events"), col("sum_v"))
        .orderBy("window_start")
    },

    // LAG FEATURES: the feature-store staple — previous values and the
    // step delta per user in (ts, event_id) order. One window partition
    // on the entity key; every lag column rides the same sort, so the
    // whole feature block is one shuffle no matter how many lags.
    Q("q_lag_features",
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS lag1,
        |  lag(value, 2) OVER w AS lag2,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_ns(ts) // 1000, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          lag("value", 1).over(w).as("lag1"),
          lag("value", 2).over(w).as("lag2"),
          (col("value") - lag("value", 1).over(w)).as("delta"))
        .orderBy("user_id", "event_id")
    },

    // TOP-N PER GROUP: the three highest-value orders per market
    // segment — the classic ranked-slice idiom (row_number over the
    // group partition, rank on a PRE-ROUNDED key so the cut can't flip
    // on float ulps, unique-key tiebreak). One shuffle on the group
    // key; the window never sees more than the group's rows.
    Q("q_grouped_topk",
      """SELECT c_mktsegment, rnk, o_orderkey, price_v FROM (
        |  SELECT c_mktsegment, o_orderkey,
        |    round(o_totalprice, 6) AS price_v,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY round(o_totalprice, 6) DESC, o_orderkey ASC) AS rnk
        |  FROM orders JOIN customer ON c_custkey = o_custkey) t
        |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin) { (s, d) =>
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(round(col("o_totalprice"), 6).desc, col("o_orderkey").asc)
      joined
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk"), col("o_orderkey"),
          round(col("o_totalprice"), 6).as("price_v"))
        .orderBy("c_mktsegment", "rnk")
    },

    // USER GROWTH CURVE: daily new users (first-ever activity) and the
    // cumulative distinct-user count — the registration-free growth
    // chart. First-seen day is one entity-bounded aggregate; the
    // cumulative sum runs over the |days|-row frame, so the global
    // window is domain-bounded, not row-bounded.
    Q("q_user_growth",
      """WITH f AS (SELECT user_id,
        |    min(epoch_ns(ts) // 86400000000000) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day_idx, count(*) AS n_new
        |  FROM f GROUP BY 1)
        |SELECT day_idx, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day_idx) AS BIGINT) AS cum_users
        |FROM d ORDER BY day_idx""".stripMargin) { (s, d) =>
      val f = Tables.events(s, d)
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
        .groupBy("user_id").agg(min("day").as("day_idx"))
        .groupBy("day_idx").agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      f.withColumn("cum_users", sum("n_new").over(w))
        .orderBy("day_idx")
    },

    // ENGAGEMENT DISTRIBUTION: how many users were active on exactly N
    // distinct days — the histogram a growth dashboard draws next to
    // DAU/WAU. Two entity-bounded aggregations (per-user distinct days,
    // then the day-count histogram); days are integer epoch buckets like
    // the churn query, no calendar surface.
    Q("q_active_days",
      """WITH ad AS (SELECT user_id,
        |    count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
        |  FROM events GROUP BY 1)
        |SELECT n_days, count(*) AS n_users
        |FROM ad GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day_idx"))
        .groupBy("user_id")
        .agg(countDistinct("day_idx").as("n_days"))
        .groupBy("n_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("n_days")
    },

    // WEEKLY CHURN: actives in week w who have no activity in week w+1.
    // Weeks are integer epoch buckets (floor-div by 604800 s — exact in
    // both engines, no calendar/timezone surface). The (user, week)
    // distinct frame self-joins one week forward as a left join; churned
    // = unmatched. The final week is right-censored (everyone "churns")
    // — the reader drops it; the operator stays censoring-agnostic.
    // Scale: the distinct frame is |users|·|weeks| — entity-bounded, far
    // smaller than the event input — and both sides of the self-join
    // share the user_id shuffle key.
    Q("q_churn_rate",
      """WITH wk AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts) // 604800000000000 AS week_idx
        |  FROM events)
        |SELECT a.week_idx, count(*) AS n_active,
        |  count(CASE WHEN b.user_id IS NULL THEN 1 END) AS n_churned,
        |  round(CAST(count(CASE WHEN b.user_id IS NULL THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS churn_rate
        |FROM wk a LEFT JOIN wk b
        |  ON b.user_id = a.user_id AND b.week_idx = a.week_idx + 1
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // A self-join, not a lead() window over a range exchange on user_id:
      // range-partitioning the raw pairs forfeits the distinct's map-side
      // partial dedup, which shrinks this shuffle ~10× (the window form
      // measured slower). The broadcast is planner-chosen, so at scale it
      // degrades to a co-keyed sort-merge join.
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 604800").as("week_idx"))
        .distinct()
      val nxt = wk.select(col("user_id").as("b_user"),
        (col("week_idx") - 1).as("b_week"))
      wk.join(nxt,
          col("user_id") === col("b_user") && col("week_idx") === col("b_week"),
          "left_outer")
        .groupBy("week_idx")
        .agg(count(lit(1)).as("n_active"),
          count(when(col("b_user").isNull, 1)).as("n_churned"),
          round(count(when(col("b_user").isNull, 1)).cast("double")
            / count(lit(1)), 6).as("churn_rate"))
        .orderBy("week_idx")
    }
  )

  /** Hottest-key report for a grouping column: top-k keys by row count
    * with their share, plus the global key count and skew factor
    * (max over mean rows-per-key). At 100 TB this runs BEFORE a big join
    * ships — a skew factor in the tens means the hot keys land on one
    * straggler task and the join wants [[Joins.saltedJoin]] or AQE skew
    * splitting. Top-k via TakeOrdered-shaped window over the (small)
    * per-key count frame; global stats are one broadcast row.
    */
  def keySkew(df: DataFrame, key: Column, topK: Int): DataFrame = {
    val c = df.groupBy(key).agg(count(lit(1)).as("cnt"))
    val g = c.agg(
      count(lit(1)).as("n_keys"), sum("cnt").as("total"),
      max("cnt").as("max_cnt"),
      (max("cnt") / (sum("cnt") / count(lit(1)).cast("double")))
        .as("skew_factor"))
    // TakeOrdered for the top-k (never a global window over every key —
    // the key-count frame is billions of rows at the design point), then
    // rank the k survivors
    val top = c.orderBy(desc("cnt"), asc("key")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), asc("key"))
    top.withColumn("rnk", row_number().over(w))
      .crossJoin(broadcast(g))
      .select(col("rnk"), col("key"), col("cnt"),
        (col("cnt") / col("total").cast("double")).as("share"),
        col("n_keys"), col("skew_factor"))
      .orderBy("rnk")
  }

  /** Sketch-based profile — the sub-linear-memory complement to [[profile]]
    * for interactive 100 TB profiling: HyperLogLog++ distinct counts
    * (`approx_count_distinct`, `relativeSD` standard error) and KLL-style
    * approximate quantiles (`percentile_approx`, rank error ≤ 1/accuracy).
    * One single-pass aggregate, fixed sketch memory per column, no
    * (value, count) histogram materialization — the trade is bounded
    * error, quantified against the exact profiler in AggregatesSpec. Not
    * oracle-checked: DuckDB's approx sketches are different algorithms
    * with different (valid) answers; cross-engine equality is the wrong
    * contract for approximations.
    */
  def approxProfile(df: DataFrame, cols: Seq[String],
      relativeSD: Double = 0.02, accuracy: Int = 10000): DataFrame = {
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', CAST($c AS DOUBLE)").mkString(", ") +
      ") AS (col_name, v)"
    df.select(expr(stackExpr))
      .groupBy("col_name")
      .agg(
        count(col("v")).as("n"),
        min("v").as("min_v"),
        max("v").as("max_v"),
        approx_count_distinct(col("v"), relativeSD).as("approx_distinct"),
        percentile_approx(col("v"), lit(0.5), lit(accuracy)).as("approx_median"),
        percentile_approx(col("v"), lit(0.99), lit(accuracy)).as("approx_p99"))
      .orderBy("col_name")
  }
}
