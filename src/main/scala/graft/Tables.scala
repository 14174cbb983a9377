package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-provided synthetic star schema
  * (/root/testdata/sf*, see TESTDATA.md).
  *
  * Design note (100 TB): every operator in this library receives its input as
  * a DataFrame produced here, so the scan layer is a single seam. At cluster
  * scale these calls would point at partitioned/bucketed table roots instead
  * of single files; the operator code is unchanged. Filters/projections are
  * applied by callers *after* these loaders, and Catalyst pushes them into
  * the Parquet scan (verify with `.explain`: PushedFilters / ReadSchema).
  */
object Tables {

  /** A table's schema is a property of its files, so it is inferred once
    * per version of the path (a [[Caches]] value) and passed back
    * explicitly: `spark.read.parquet(path)` without a schema runs a
    * footer-reading job, 25-35 ms per table per query construction. A
    * path that cannot be listed falls through to the plain read, so the
    * caller sees Spark's PATH_NOT_FOUND.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    Caches.value(spark, path, "schema")(spark.read.parquet(path).schema)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Normalize `events.ts` to session-zoned TimestampType. The testdata
    * stores Timestamp(isAdjustedToUTC=false, MICROS), which Spark 4 surfaces
    * as TIMESTAMP_NTZ: every session here pins spark.sql.session.timeZone=
    * UTC, so `cast("timestamp")` maps the wall-clock value to the identical
    * instant (exact, no precision change). Data written with TIMESTAMP(NANOS)
    * is NOT readable here — no session sets the nanosAsLong legacy flag, so
    * such a scan fails fast with ILLEGAL_PARQUET_TYPE rather than surfacing a
    * long column (the former long-reconstruction branch was unreachable and
    * was removed; re-reading that generation means re-enabling the flag AND
    * reinstating micros = nanos div 1000 — integer division, a double
    * division loses precision above 2^53 ns). Downstream engine logic is
    * second-granularity, matching the DuckDB oracle's epoch_ms(ts)//1000.
    */
  private def withNanoTs(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          org.apache.spark.sql.functions.col(tsCol).cast("timestamp"))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** Hive-style partition column surfaced when events is stored as a
    * date-partitioned directory (events.parquet/event_date=YYYY-MM-DD/…,
    * the layout a 100 TB event log actually has, and the one
    * `ScaleUp` writes).
    * Loaders drop it so both layouts present the identical 6-column
    * schema to every operator; eventsInRange turns it into a partition
    * filter FIRST, so date-range scans list only the in-range day dirs.
    */
  val EventsPartCol = "event_date"

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    val flat = if (raw.columns.contains(EventsPartCol))
      raw.drop(EventsPartCol) else raw
    withNanoTs(flat, "ts")
  }

  /** events bounded to [from, until) with the predicate applied on the RAW
    * stored column BEFORE the timestamp normalization, so it pushes into the
    * parquet scan (a filter on a rewritten column is per-row compute —
    * measured: only IsNotNull reached the scan; at 100 TB that is a full
    * stream-table scan per time-range query). Bounds are second-granularity
    * 'yyyy-MM-dd HH:mm:ss' UTC strings. NTZ storage: compare against a typed
    * LocalDateTime literal (same NTZ type → pushable, no cast on the column).
    */
  def eventsInRange(s: SparkSession, d: String, from: String,
      until: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def ldt(ts: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
    val raw = table(s, d, "events")
    // Derived partition predicate: when the layout is date-partitioned,
    // event_date == date(ts) by construction (ScaleUp), so the ts
    // range implies event_date ∈ [date(from), date(last in-range instant)].
    // The redundant bound is what Catalyst turns into PartitionFilters —
    // the scan then LISTS only the in-range day directories, the file-level
    // analog of skipping 99.99% of a year-partitioned 100 TB event log.
    // An `until` at exactly midnight excludes its whole day (ts < until).
    val pruned = if (raw.columns.contains(EventsPartCol)) {
      val u = ldt(until)
      val lastDay = if (u.toLocalTime == java.time.LocalTime.MIDNIGHT)
        u.toLocalDate.minusDays(1) else u.toLocalDate
      raw.where(col(EventsPartCol) >= lit(java.sql.Date.valueOf(ldt(from).toLocalDate)) &&
        col(EventsPartCol) <= lit(java.sql.Date.valueOf(lastDay)))
    } else raw
    val ranged = pruned.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        pruned.where(
          col("ts") >= lit(ldt(from)) && col("ts") < lit(ldt(until)))
      case _ =>
        pruned.where(col("ts") >= from && col("ts") < until)
    }
    val flat = if (ranged.columns.contains(EventsPartCol))
      ranged.drop(EventsPartCol) else ranged
    withNanoTs(flat, "ts")
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** The one session factory: Bench, Verify, the dev mains and the test suite
  * all run under this config, so the plans the oracle and the plan nets
  * check are the plans that are timed. AQE and partition coalescing are on
  * (Spark 4 defaults).
  */
object GraftSession {
  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def build(appName: String = "graft",
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors.toString)): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // Shuffle width = core count. Measured r16 (hot-22 subset, floor 64k):
      // 2×cores REGRESSED wall 19.5 -> 26.8 s and executor CPU 229 -> 363 k
      // ms — per-task fixed cost dominates at bench scale, so extra width
      // buys contention, not parallelism.
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalesced-partition floor, r16-measured (OPTIMIZATION_r16.md):
      // tasks under ~0.5 MiB of shuffle input carry more fixed per-task
      // cost than compute — sweeping 16k/64k/128k/256k/512k/1m/2m on the
      // 22 CPU-heaviest queries gave walls 28.2/19.5/18.4/15.4/14.3/16.3/
      // 18.3 s (executor CPU collapsed 229k -> 42k ms at 512k). 512k also
      // won on the pair-emission family (12.6 -> 9.6 s) that the old
      // 64 KiB floor was protecting. Full-suite walls tie within noise
      // across 64k/256k/512k once the codegen cache (below) is sized
      // right, but total CPU still scales with task count (216k -> 49k
      // ms), and total CPU is what the wall becomes at low core counts
      // (8-CPU suite: 81.9 s at the r15 config, 56.8 s here). At
      // production scale the 64 MiB advisory target dominates and the
      // floor never binds.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "512k")
      // Scan-split open cost: the 4 MiB default, measured (r17).
      // Splitting the 2-16 MiB bench tables into 32 scan tasks (openCost
      // 256 KiB) parallelized single-task scan stages but regressed the
      // 12-query probe subset 5.8 -> 6.4 s: at this input size ~30 extra
      // tasks per stage cost more in per-task fixed overhead than the
      // parallelism returns — the same width-vs-contention tradeoff as
      // the r16 AQE-floor sweep.
      .config("spark.sql.files.openCostInBytes", "4194304")
      // Lets AQE re-plan (coalesce) the build plans of persisted frames,
      // at the price Spark documents: a cached frame then no longer
      // promises its output partitioning, so a consumer keyed on it may
      // re-shuffle. Measured on the committed shuffle budget (sf0.001,
      // 4 cores), turning it on moves five plans: q_doc_chunks,
      // q_dsir_weight, q_text_clf_score and q_text_repetition gain one
      // exchange (1 -> 2) and q_vocab_growth loses one (4 -> 3). The value
      // is the one Bench has always timed.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Generated-class cache (static conf, default 100 entries): a
      // 165-query engine cycles ~several hundred distinct generated
      // sources per suite, so the default LRU thrashes and stages pay
      // Janino recompiles all run long. Sized to hold the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
