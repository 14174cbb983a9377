package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Per-query ShuffleExchange counts for an arbitrary sf directory — the
  * CLI twin of PlanAuditSpec's shuffle-budget test, for diffing the
  * committed budget (recorded at test scale) against the plans Catalyst
  * produces on 10×/100× replicas: a count that moves with DATA SIZE
  * under an identical session exposes a size-triggered strategy flip
  * (broadcast → SMJ being the canonical one) that the fixed-scale
  * budget can't see.
  *
  * `runMain graft.ShuffleCount <sfDir>` → TSV on stdout (query \t count)
  * from [[counts]], the routine the spec's budget test calls too.
  *
  * `runMain graft.ShuffleCount <sfDir> <budget.tsv> [blessed.tsv]` is the
  * SCALE-AWARE gate: diffs the counts against the committed test-scale
  * budget and exits 1 on any flip not listed in the blessed file
  * (`query \t expected-count-at-scale \t reason` — the adjudicated
  * size-triggered broadcast→SMJ flips). A blessed flip whose count moves
  * AGAIN is drift too: blessing pins the at-scale count, not a wildcard.
  */
object ShuffleCount {
  /** `(query, ShuffleExchange count)` for every registered query, sorted by
    * name, in the canonical warm-cache state. Shuffle counts depend on
    * whether the Caches-memoized shared frames are MATERIALIZED: a
    * materialized InMemoryRelation reports its actual cached-batch size
    * instead of the child-plan estimate, which flips downstream SMJ <->
    * broadcast decisions. So every query is constructed first (registering
    * its frames) and the registry is force-materialized. Exchanges are
    * inserted by EnsureRequirements, so the count is taken on the PREPARED
    * plan, with AQE off for the planning pass because AdaptiveSparkPlanExec
    * hides its unfinalized subtree from collect. Nothing executes in the
    * counting pass itself.
    */
  def counts(spark: SparkSession, sfDir: String): Seq[(String, Int)] = {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    queries.foreach { case (_, fn) => fn(spark, sfDir) }
    Caches.warm()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      queries.map { case (name, fn) =>
        name -> fn(spark, sfDir).queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }.size
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val budget: Map[String, Int] = args.lift(1).map { p =>
      scala.io.Source.fromFile(p).getLines().filter(_.nonEmpty)
        .map { l => val a = l.split("\t"); a(0) -> a(1).toInt }.toMap
    }.getOrElse(Map.empty)
    val blessed: Map[String, (Int, String)] = args.lift(2).map { p =>
      scala.io.Source.fromFile(p).getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val a = l.split("\t"); a(0) -> (a(1).toInt, a(2)) }.toMap
    }.getOrElse(Map.empty)
    val spark = GraftSession.build("graft-shufflecount")
    spark.sparkContext.setLogLevel("WARN")
    val counts = this.counts(spark, sfDir)
    counts.foreach { case (name, c) => println(s"$name\t$c") }
    spark.stop()
    if (budget.nonEmpty) {
      // A typo'd/orphaned budget or blessed row would otherwise pass
      // silently (the drift loop iterates COUNTS): make the standalone
      // gate self-contained by failing on any entry that names a query
      // the registry never planned at this scale.
      val planned = counts.map(_._1).toSet
      val unknown = (budget.keySet ++ blessed.keySet).diff(planned).toSeq.sorted
      if (unknown.nonEmpty) {
        System.err.println(s"[shufflecount] ${unknown.size} budget/blessed " +
          s"entries name queries that never planned: ${unknown.mkString(", ")}")
        sys.exit(1)
      }
      val unblessedDrift = counts.flatMap { case (name, c) =>
        (budget.get(name), blessed.get(name)) match {
          case (Some(b), None) if b != c =>
            System.err.println(s"[shufflecount] UNBLESSED flip $name: $b -> $c")
            Some(name)
          case (Some(b), Some((exp, why))) =>
            if (c == exp) {
              System.err.println(s"[shufflecount] blessed $name: $b -> $c ($why)")
              None
            } else {
              System.err.println(
                s"[shufflecount] BLESSED-COUNT drift $name: expected $exp, got $c")
              Some(name)
            }
          case _ => None
        }
      }
      if (unblessedDrift.nonEmpty) {
        System.err.println(s"[shufflecount] ${unblessedDrift.size} unadjudicated " +
          s"flips vs ${args(1)}: ${unblessedDrift.mkString(", ")}")
        sys.exit(1)
      }
      System.err.println("[shufflecount] all plan flips adjudicated")
    }
  }
}
