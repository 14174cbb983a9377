package graft.operators

import graft.{Plans, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY.md §2.5, §2.6) plus sessionization
  * (§2.4 "dedup-to-events").
  *
  * Re-expresses: global per-partition z-scores (readers/time_series.py:
  * 252-281), latest-version dedup (rag/queries/trends_narration.py:77-87),
  * centered rolling baselines (form_anomaly_detector.py:147-179), trailing
  * range-window max (objective_fitness/curve.py:35-97), trailing medians
  * (analysis/recovery.py:45-87), rolling personal baseline bands
  * (analysis/wellness_baseline.py:52-197), streaks (analysis/derivations.py:
  * 409-431), cumulative sums, equal-interval downsampling
  * (web/queries/time_series.py:38-60), deterministic best/worst ranking
  * (readers/durability.py:309-356), and gap-sessionization
  * (analysis/form_events.py:63-80).
  *
  * Scale notes: every window here is partitioned by a high-cardinality key
  * (user/customer) — one shuffle on the partition key, then sorted windows
  * within partitions; no global `OVER ()` windows (the reference's `OVER ()`
  * sites are per-activity because of their WHERE — SURVEY §4.3 trap). Global
  * totals are computed as 1-row aggregates and broadcast (see Aggregates).
  * Range frames are keyed on integer epoch seconds / day indexes so the
  * frame math is exact and matches the DuckDB oracle.
  */
object Windows {

  /** Per-partition z-score with sample stddev; rows with |z| > threshold. */
  def zscoreOutliers(df: DataFrame, partCol: String, valueCol: String,
      threshold: Double): DataFrame = {
    val w = Window.partitionBy(col(partCol))
    // try_divide: a constant partition (stddev 0) yields NULL z — the row
    // is then not an outlier (DuckDB /0 semantics), not an ANSI crash
    df.withColumn("z",
        try_divide(col(valueCol) - avg(col(valueCol)).over(w),
          stddev(col(valueCol)).over(w)))
      .filter(abs(col("z")) > threshold)
  }

  /** Latest-wins dedup: one row per key, newest by (tsCol, tiebreak). */
  def latestVersion(df: DataFrame, keyCol: String, tsCol: String,
      tiebreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tiebreakCol).desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Gap-based sessionization: a new session starts when the gap from the
    * previous row (same partition, time order) exceeds `gapSeconds`.
    * Classic lag + cumulative-sum; one shuffle.
    */
  def sessionize(df: DataFrame, partCol: String, tsCol: String,
      tiebreakCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(col(tsCol), col(tiebreakCol))
    val secs = unix_timestamp(col(tsCol))
    val brk = when(lag(col(tsCol), 1).over(w).isNull ||
      secs - unix_timestamp(lag(col(tsCol), 1).over(w)) > gapSeconds, 1)
      .otherwise(0)
    df.withColumn("brk", brk)
      .withColumn("session_id",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("brk")
  }

  // ---------------------------------------------------------------- queries

  val entries: Seq[Q] = Seq(
    Q("q_zscore",
      """SELECT event_id, user_id, value, z FROM (
        |  SELECT event_id, user_id, value,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      stddev(value) OVER (PARTITION BY user_id) AS z
        |  FROM events) t
        |WHERE abs(z) > 2.0 ORDER BY event_id""".stripMargin) { (s, d) =>
      zscoreOutliers(Tables.events(s, d), "user_id", "value", 2.0)
        .select("event_id", "user_id", "value", "z")
        .orderBy("event_id")
    },

    Q("q_latest_version",
      """SELECT o_custkey, o_orderkey, o_orderdate
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      latestVersion(Plans.clusteredBy(Tables.orders(s, d), "o_custkey"),
        "o_custkey", "o_orderdate", "o_orderkey")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    },

    Q("q_rolling_center",
      """SELECT event_id, roll_avg, roll_std, n_in_frame FROM (
        |  SELECT event_id,
        |    avg(value) OVER w AS roll_avg,
        |    stddev(value) OVER w AS roll_std,
        |    count(value) OVER w AS n_in_frame
        |  FROM (SELECT *, epoch_ms(ts)//1000 AS tsec FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |    RANGE BETWEEN 259200 PRECEDING AND 259199 FOLLOWING)) t
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec")).rangeBetween(-259200L, 259199L)
      // a numbered exchange: AQE would coalesce the few shuffle bytes of
      // this compute-bound window into one task
      val n = s.conf.get("spark.sql.shuffle.partitions").toInt
      Tables.events(s, d)
        .withColumn("tsec", unix_timestamp(col("ts")))
        .repartition(n, col("user_id"))
        .select(col("event_id"),
          avg("value").over(w).as("roll_avg"),
          stddev("value").over(w).as("roll_std"),
          count("value").over(w).as("n_in_frame"))
        .transform(Plans.sortedOutput(_, "event_id"))
    },

    Q("q_trailing_max_90d",
      """SELECT o_orderkey, max90 FROM (
        |  SELECT o_orderkey, max(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS max90
        |  FROM orders) t ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_idx")).rangeBetween(-90L, 0L)
      // no Plans.sortedOutput: the sliding max is cheaper to re-run
      Tables.orders(s, d)
        .withColumn("day_idx",
          datediff(col("o_orderdate"), lit("1990-01-01")).cast("long"))
        .select(col("o_orderkey"), max("o_totalprice").over(w).as("max90"))
        .orderBy("o_orderkey")
    },

    Q("q_trailing_median",
      """SELECT event_id, med7 FROM (
        |  SELECT event_id, median(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |  FROM events) t ORDER BY event_id""".stripMargin) { (s, d) =>
      // Spark disallows `median` over a moving frame; an exact interpolated
      // rolling median is the sorted frame contents picked at the midpoint.
      // Frames are ≤7 elements so the per-row sort is O(k log k) with k=7.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6L, 0L)
      Tables.events(s, d)
        .withColumn("arr", array_sort(collect_list(col("value")).over(w)))
        .withColumn("med7", expr(
          """CASE WHEN size(arr) % 2 = 1 THEN arr[size(arr) div 2]
            |ELSE (arr[size(arr) div 2 - 1] + arr[size(arr) div 2]) / 2.0
            |END""".stripMargin))
        .select("event_id", "med7")
        // no Plans.sortedOutput: 7-row frames are cheaper to re-run
        .orderBy("event_id")
    },

    Q("q_baseline_band",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    datediff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_idx,
        |    sum(value) AS daily_v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT user_id, day, daily_v, base_avg, base_sd,
        |  daily_v > base_avg + 2.0 * base_sd AS is_high
        |FROM (
        |  SELECT user_id, day, daily_v,
        |    avg(daily_v) OVER w AS base_avg,
        |    sqrt(var_pop(daily_v) OVER w) AS base_sd,
        |    count(daily_v) OVER w AS n_base
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day_idx
        |    RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING)) t
        |WHERE n_base >= 3 ORDER BY user_id, day""".stripMargin) { (s, d) =>
      // clustered after the daily aggregate, which keeps its map-side
      // partial sum
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum("value").as("daily_v"))
        .withColumn("day_idx", datediff(col("day"), lit("1990-01-01")).cast("long"))
        .transform(Plans.clusteredBy(_, "user_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("day_idx")).rangeBetween(-30L, -1L)
      daily
        .withColumn("base_avg", avg("daily_v").over(w))
        .withColumn("base_sd", sqrt(var_pop(col("daily_v")).over(w)))
        .withColumn("n_base", count(col("daily_v")).over(w))
        .filter(col("n_base") >= 3)
        .withColumn("is_high",
          col("daily_v") > col("base_avg") + lit(2.0) * col("base_sd"))
        .select("user_id", "day", "daily_v", "base_avg", "base_sd", "is_high")
        .orderBy("user_id", "day")
    },

    // Streaks via ONE window partitioning: the textbook gaps-and-islands
    // form re-shuffles on (user_id, grp) for the per-island running count,
    // but that count equals cum − (cum as of the last streak break), and
    // "as of the last break" is a running max over the SAME (user_id, day)
    // order — so every window here shares one Exchange + sort (cum is
    // nondecreasing, making max(cum where inc=0) exactly the break's cum).
    // One shuffle instead of two; at 100 TB the saved exchange is the
    // whole cost of the operator.
    Q("q_streak",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS daily_v
        |  FROM events GROUP BY 1, 2),
        |flagged AS (
        |  SELECT user_id, day, daily_v,
        |    CASE WHEN lag(daily_v) OVER w IS NULL
        |           OR daily_v <= lag(daily_v) OVER w THEN 0 ELSE 1 END AS inc
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |s AS (
        |  SELECT user_id, day, inc,
        |    CAST(sum(inc) OVER (PARTITION BY user_id ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM flagged)
        |SELECT user_id, day,
        |  cum - coalesce(max(CASE WHEN inc = 0 THEN cum END)
        |    OVER (PARTITION BY user_id ORDER BY day
        |      ROWS UNBOUNDED PRECEDING), 0) AS streak
        |FROM s ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val wRows = wOrd.rowsBetween(Window.unboundedPreceding, 0)
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum("value").as("daily_v"))
        .transform(Plans.clusteredBy(_, "user_id"))
      daily.withColumn("inc",
          when(lag(col("daily_v"), 1).over(wOrd).isNull ||
            col("daily_v") <= lag(col("daily_v"), 1).over(wOrd), 0).otherwise(1))
        .withColumn("cum", sum(col("inc")).over(wRows).cast("long"))
        .withColumn("streak", col("cum") - coalesce(
          max(when(col("inc") === 0, col("cum"))).over(wRows), lit(0L)))
        .select("user_id", "day", "streak")
        .orderBy("user_id", "day")
    },

    Q("q_cumsum",
      """SELECT o_orderkey, sum(o_totalprice) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS UNBOUNDED PRECEDING) AS cum_v
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, d)
        .select(col("o_orderkey"), sum("o_totalprice").over(w).as("cum_v"))
        .orderBy("o_orderkey")
    },

    // Personal-record extraction, batch form: an event is a record iff it
    // strictly beats the user's running maximum over ALL prior events —
    // the batch twin of the streaming `Streams.personalRecordStream`
    // (flatMapGroupsWithState); identical semantics incl. the (ts,
    // event_id) in-partition order, so a catch-up batch job and the live
    // stream emit the same record set. One window over the key partition,
    // no self-join.
    Q("q_record_events",
      """SELECT user_id, event_id, value, prev_best FROM (
        |  SELECT user_id, event_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
        |  FROM events) t
        |WHERE prev_best IS NULL OR value > prev_best
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Plans.clusteredBy(Tables.events(s, d), "user_id")
        .select(col("user_id"), col("event_id"), col("value"),
          max("value").over(w).as("prev_best"))
        .where(col("prev_best").isNull || col("value") > col("prev_best"))
        .orderBy("user_id", "event_id")
    },

    Q("q_downsample",
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    greatest(1, CAST(floor(count(*) OVER (PARTITION BY user_id)
        |      / 50.0) AS BIGINT)) AS step
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
        |WHERE rn = 1 OR rn = n OR (rn - 1) % step = 0
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      Plans.clusteredBy(Tables.events(s, d), "user_id")
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("step",
          greatest(lit(1L), floor(col("n") / 50.0)))
        .filter(col("rn") === 1 || col("rn") === col("n") ||
          (col("rn") - 1) % col("step") === 0)
        .select("user_id", "event_id")
        .orderBy("user_id", "event_id")
    },

    Q("q_minmax_run",
      """SELECT event_type,
        |  max(CASE WHEN rn_asc = 1 THEN event_id END) AS best_event_id,
        |  max(CASE WHEN rn_asc = 1 THEN value END) AS best_value,
        |  max(CASE WHEN rn_desc = 1 THEN event_id END) AS worst_event_id,
        |  max(CASE WHEN rn_desc = 1 THEN value END) AS worst_value
        |FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, ts ASC, event_id ASC) AS rn_asc,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, ts DESC, event_id DESC) AS rn_desc
        |  FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val wAsc = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("ts").asc, col("event_id").asc)
      val wDesc = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("ts").desc, col("event_id").desc)
      Plans.clusteredBy(Tables.events(s, d), "event_type")
        .withColumn("rn_asc", row_number().over(wAsc))
        .withColumn("rn_desc", row_number().over(wDesc))
        .groupBy("event_type")
        .agg(
          max(when(col("rn_asc") === 1, col("event_id"))).as("best_event_id"),
          max(when(col("rn_asc") === 1, col("value"))).as("best_value"),
          max(when(col("rn_desc") === 1, col("event_id"))).as("worst_event_id"),
          max(when(col("rn_desc") === 1, col("value"))).as("worst_value"))
        .orderBy("event_type")
    },

    Q("q_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts)//1000 - epoch_ms(lag(ts) OVER w)//1000 > 3600
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  epoch_ms(max(ts))//1000 - epoch_ms(min(ts))//1000 AS duration_s
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      sessionize(Plans.clusteredBy(Tables.events(s, d), "user_id"),
        "user_id", "ts", "event_id", 3600L)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
            .as("duration_s"))
        .orderBy("user_id", "session_id")
    },

    Q("q_gap_dedup_count",
      """WITH z AS (
        |  SELECT user_id, event_id, ts,
        |    (value - avg(value) OVER (PARTITION BY user_id)) /
        |      stddev(value) OVER (PARTITION BY user_id) AS z
        |  FROM events),
        |m AS (SELECT * FROM z WHERE abs(z) > 1.5),
        |f AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts)//1000 - epoch_ms(lag(ts) OVER w)//1000 > 600
        |      THEN 1 ELSE 0 END AS brk
        |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_events
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val material = zscoreOutliers(
        Plans.clusteredBy(Tables.events(s, d), "user_id"),
        "user_id", "value", 1.5)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      material
        .withColumn("brk",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_timestamp(col("ts")) -
              unix_timestamp(lag(col("ts"), 1).over(w)) > 600, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("brk").as("n_events"))
        .orderBy("user_id")
    }
  )
}
