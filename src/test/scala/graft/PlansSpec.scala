package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan each [[Plans]] idiom promises, on small in-memory frames with
  * AQE off (the final plan is then the planned one), and the prefix sum's
  * values against the single-partition window it replaces.
  */
class PlansSpec extends SparkSpec {

  private def withAqeOff[T](body: => T): T = {
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try body finally conf.set("spark.sql.adaptive.enabled", saved)
  }

  /** Shuffle exchanges of `df`'s physical plan, top-down. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  // 400 rows in 4 input partitions; key k has 7 values
  private def keyed: DataFrame =
    spark.range(0, 400, 1, 4).select((col("id") % 7).as("k"), col("id").as("v"))

  test("clusteredBy: window, aggregate and sort on the key share one range exchange") {
    withAqeOff {
      val q = Plans.clusteredBy(keyed, "k")
        .withColumn("m", max("v").over(Window.partitionBy("k").orderBy("v")))
        .groupBy("k").agg(sum("m").as("s"))
        .orderBy("k")
      val ex = exchanges(q)
      assert(ex.size === 1, q.queryExecution.executedPlan)
      assert(ex.head.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(q.collect().map(_.getLong(0)).toSeq === (0L until 7L))
    }
  }

  test("sortedOutput: one hash exchange below the range sort") {
    withAqeOff {
      val q = Plans.sortedOutput(keyed.select(col("v"), (col("v") * 2).as("w")), "v")
      val ex = exchanges(q)
      assert(ex.size === 2, q.queryExecution.executedPlan)
      assert(ex(0).outputPartitioning.isInstanceOf[RangePartitioning])
      assert(ex(1).outputPartitioning.isInstanceOf[HashPartitioning])
      assert(ex(0).find(_ eq ex(1)).isDefined, "hash exchange under the range sort")
      assert(q.collect().map(_.getLong(0)).toSeq === (0L until 400L))
    }
  }

  test("runningSum over uneven slices with tied keys equals the single-partition window") {
    val dir = Files.createTempDirectory("graft-plans-running").toString
    // 3000 of 5000 rows tie on p = 0 and span several slices; each other
    // p value ties ~24 rows. Slice bounds come from a sample, so slice
    // sizes differ.
    val df = spark.range(0, 5000, 1, 2).select(col("id"),
      when(col("id") < 3000, lit(0L)).otherwise(col("id") % 83).as("p"),
      (col("id") % 5 + 1).as("w"))
    val order = Seq(desc("p"), asc("id"))
    Caches.clear()
    try {
      withAqeOff {
        val (got, total) = Plans.runningSum(spark, dir, "plans-spec-parts", df,
          order, col("w"), "cum")
        val sizes = got.groupBy("pid").count().collect().map(_.getLong(1))
        assert(sizes.length > 1 && sizes.distinct.length > 1, sizes.toSeq)
        assert(got.where(col("p") === 0).select("pid").distinct().count() > 1)
        val ref = df.withColumn("ref", sum("w").over(Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
        def byId(d: DataFrame, c: String): Seq[(Long, Long)] =
          d.select(col("id"), col(c)).collect().map(r => (r.getLong(0), r.getLong(1)))
            .sortBy(_._1).toSeq
        assert(byId(got, "cum") === byId(ref, "ref"))
        assert(total === df.agg(sum("w")).head().getLong(0))
      }
    } finally Caches.clear()
  }
}
