package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.functions._

/** `Telemetry.measure` attributes by job tag: concurrent blocks get
  * disjoint records that add up to everything that ran, and a block alone
  * gets every task a window listener sees, across broadcast, subquery and
  * AQE threads and cached frames.
  */
class TelemetrySpec extends SparkSpec {

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  /** Everything that runs while `body` does, whatever its tags. */
  private def window(body: => Unit): Telemetry.Record = {
    val w = new Telemetry.Recorder(_ => true)
    spark.sparkContext.addSparkListener(w)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext,
        30000L)
      w.record(0L)
    } finally spark.sparkContext.removeSparkListener(w)
  }

  /** Shuffle query stages in an executed plan, walked by hand through
    * AQE's final plan, each stage's exchange and every subquery.
    */
  private def shuffleStages(p: SparkPlan): Int = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    val here = p match { case _: ShuffleQueryStageExec => 1; case _ => 0 }
    here + (next ++ p.subqueries).map(shuffleStages).sum
  }

  test("two queries measured concurrently each get their solo record") {
    val names = Seq("q_market_share", "q_join_agg")
    names.foreach(run) // warm: schemas, plans, codegen
    val solo = names.map(n => Telemetry.measure(spark, n)(run(n)))

    val got = new Array[Telemetry.Record](2)
    val all = window {
      val threads = names.zipWithIndex.map { case (n, i) =>
        new Thread(() => got(i) = Telemetry.measure(spark, n)(run(n)))
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    names.indices.foreach { i =>
      assert(got(i).jobs === solo(i).jobs, names(i))
      assert(got(i).tasks === solo(i).tasks, names(i))
      assert(got(i).exchanges === solo(i).exchanges, names(i))
      assert(got(i).jobs > 1 && got(i).tasks > 0, names(i))
    }
    assert(got.map(_.tasks).sum === all.tasks)
    assert(got.map(_.cpuNs).sum === all.cpuNs)
  }

  test("a query alone: tagged tasks and CPU equal the window, plan ms recorded") {
    def scalarSubquery: DataFrame = {
      val li = Tables.lineitem(spark, sfDir)
      li.where(col("l_quantity") >
          Tables.lineitem(spark, sfDir).select(avg("l_quantity")).scalar())
        .agg(count(lit(1)))
    }
    // each frame is built fresh per run: a second action on one Dataset
    // would reuse its AQE stages
    val cases: Seq[(String, String, () => DataFrame)] = Seq(
      ("q_join_agg", "BroadcastHashJoin",
        () => SparkEntry.queries("q_join_agg")(spark, sfDir)),
      ("scalar subquery", "Subquery subquery#", () => scalarSubquery),
      ("q_pricing_summary", "AQEShuffleRead coalesced",
        () => SparkEntry.queries("q_pricing_summary")(spark, sfDir)),
      ("q_ann_brute", "InMemoryTableScan",
        () => SparkEntry.queries("q_ann_brute")(spark, sfDir)))
    cases.foreach { case (_, _, df) => df().collect() } // warm
    Caches.warm()
    val exchanges = cases.map { case (name, planHas, mk) =>
      val df = mk()
      var tagged: Telemetry.Record = null
      val all = window { tagged = Telemetry.measure(spark, name)(df.collect()) }
      assert(df.queryExecution.executedPlan.toString.contains(planHas), name)
      assert(tagged.tasks > 0 && tagged.tasks === all.tasks, name)
      assert(tagged.cpuNs === all.cpuNs, name)
      assert(tagged.sqlExecutions >= 1, name)
      assert(tagged.planMs >= 0L, name)
      assert(tagged.exchanges === shuffleStages(df.queryExecution.executedPlan), name)
      tagged.exchanges
    }
    assert(exchanges.exists(_ > 0))
  }
}
