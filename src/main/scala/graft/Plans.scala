package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The partitioning idioms whose reason the Spark call alone does not
  * show. A query that places an exchange for one of these reasons calls
  * the function here; plain hash clustering ahead of a per-key stage
  * (`repartition(col("doc_id"))` before a tokenizer, say) calls Spark
  * directly.
  */
object Plans {

  /** `df` hash-partitioned on `keys.head`, then globally sorted by `keys`.
    *
    * A global sort plans a range exchange, and that exchange samples its
    * child to compute the range bounds: the whole subtree below the sort
    * runs twice, once for the sample and once for the rows. The hash
    * exchange here materializes the subtree's output, so the sampler reads
    * shuffle files instead of re-running it. Use it where the subtree is
    * costly to run twice (a parse, a regex, a sliding window, a model
    * probe). Where it is cheap (a short moving frame, a sliding max) the
    * extra exchange costs more than the re-run, so such a query sorts
    * directly.
    *
    * The exchange carries the full output row. With a narrow output (two
    * or five columns of ids and numbers) that is far less than the
    * re-parsed input. With a wide one, such as q_scrub_mask's masked
    * `props` string, it trades the regex re-run for shuffle bytes of the
    * same width as the input, a trade measured as a win only at sf0.1.
    */
  def sortedOutput(df: DataFrame, keys: String*): DataFrame =
    df.repartition(col(keys.head)).orderBy(keys.head, keys.tail: _*)

  /** `df` range-partitioned on `key`.
    *
    * A window or an aggregate keyed on `key` needs rows clustered by
    * `key`, and an `ORDER BY` whose first column is `key` needs them
    * range-partitioned on it. One range exchange placed first serves them
    * all: the window, the aggregate and the final sort then plan no
    * further exchange, and the range sampler reads the raw input instead
    * of re-running the window. Equal keys land in one range partition, so
    * window semantics are those of a hash clustering, and neither splits a
    * skewed key.
    */
  def clusteredBy(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(col(key))

  /** Range slices of a [[runningSum]]. */
  private val Slices = 8

  /** `df` with column `as` = the running total of `weight` over the
    * global order `order` (rows unbounded preceding), plus the total of
    * `weight` over all rows. A column of `lit(1L)` gives the global row
    * number.
    *
    * A running total over a global order is a single-partition window in
    * plain Spark. Here it is a distributed prefix sum:
    *  - `df` is range-partitioned by `order` into 8 slices, so slice id
    *    order (`pid`) is global order;
    *  - each slice's total is collected on the driver (one row per slice)
    *    and prefix-summed into the slice's offset;
    *  - the offsets are broadcast-joined back on `pid`, and each row's
    *    running total is a window within its slice plus that offset.
    * No partition holds more than its slice of rows.
    *
    * The slices are the shared frame `name` over `d` ([[Caches.frame]]).
    * The totals collect and the caller's job are two executions, and a
    * range exchange samples its bounds anew on each: without one
    * materialized output the two could disagree on which slice a boundary
    * row lands in, and the offsets would be wrong. The result keeps the
    * `pid` and `offset` columns.
    */
  def runningSum(s: SparkSession, d: String, name: String, df: DataFrame,
      order: Seq[Column], weight: Column, as: String): (DataFrame, Long) = {
    val parts = Caches.frame(s, d, name)(
      df.repartitionByRange(Slices, order: _*)
        .withColumn("pid", spark_partition_id()))
    val totals = parts.groupBy("pid").agg(sum(weight).as("psum"))
      .orderBy("pid").collect()
      .map(r => (r.getAs[Int]("pid"), r.getAs[Long]("psum")))
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, ps)) =>
      (pid, acc + ps)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => (pid, acc) }
      .toSeq
    val offDf = s.createDataFrame(offsets).toDF("pid", "offset")
    val w = Window.partitionBy("pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    (parts.join(broadcast(offDf), Seq("pid"))
      .withColumn(as, (sum(weight).over(w) + col("offset")).cast("long")),
      totals.map(_._2).sum)
  }

  /** An athlete-sized input in a single partition (see "Plan shape" on
    * [[graft.api.Graft]]).
    */
  def onePartition(df: DataFrame): DataFrame = df.coalesce(1)

  /** `df` in one partition sorted by `cols`: a total order with no range
    * exchange.
    */
  def sortedInOne(df: DataFrame, cols: String*): DataFrame =
    onePartition(df).sortWithinPartitions(cols.map(col): _*)

  /** `left` inner-joined to `right` on `key`, both in one partition. A
    * sort-merge join of two one-partition children needs no exchange, and
    * unlike a broadcast join it runs no job to build a side: the join runs
    * in the task that reads both inputs.
    */
  def joinedInOne(left: DataFrame, right: DataFrame, key: String): DataFrame =
    onePartition(left).hint("merge").join(onePartition(right), Seq(key))
}
