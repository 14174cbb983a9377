package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.SilverWriter
import graft.sources.GarminJson

/** The silver load of a bronze corpus, composed from the engine's public
  * functions: `GarminJson` readers → `Schemas.conform` →
  * `SilverWriter.upsertByPartition`, one upsert per silver table the API
  * reads. Each write is wrapped in a [[Trace]] span named after its table.
  */
object Ingest {

  val SilverTableNames: Seq[String] = Seq("activities", "splits", "time_series_metrics")

  /** Upsert every activity under `bronze` into the silver tables. */
  def load(spark: SparkSession, tr: Trace, bronze: String, silver: String): Unit = {
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "activities" -> (() => GarminJson.readActivities(spark, bronze)),
      "splits" -> (() => GarminJson.readSplits(spark, bronze)),
      "time_series_metrics" -> (() => GarminJson.readTimeSeries(spark, bronze)))
    for ((name, read) <- tables) {
      val df = tr.span(s"sources.$name", "sources")(read())
      tr.span(s"ingest.write_s.$name", "ingest") {
        SilverWriter.upsertByPartition(graft.Schemas.conform(df, name), s"$silver/$name")
      }
    }
  }

  /** Catch-up path for the append-only splits log: land `splits` rows of a
    * batch as new parquet files under `landing`, then run the engine's
    * AvailableNow stream over the landing directory into `out`.
    */
  def catchUp(spark: SparkSession, tr: Trace, splits: DataFrame, landing: String,
      checkpoint: String, out: String): Unit = tr.span("streaming.catchup_s", "streaming") {
    splits.select(col("activity_id"), col("split_index"), col("distance"),
      col("duration_seconds"), col("heart_rate")).write.mode("append").parquet(landing)
    graft.streaming.Streams.catchUp(spark, landing, checkpoint, out,
      spark.read.parquet(landing).schema)
  }
}
