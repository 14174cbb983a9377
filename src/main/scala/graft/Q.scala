package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: a Spark program plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over the same
  * parquet tables. The driver hash-compares the two at sf0.01
  * (CORRECTNESS_r{N}.json); queries without an oracle get a rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Prepared-statement reuse: a query's ANALYZED PLAN is a memo in
    * [[Caches]] (slot `q:name:dir`), so a call skips the constructor Scala
    * and Catalyst analysis, measured at 9.2 s across one pass of the
    * 165-query suite. Only the plan is kept, never a Dataset: every call
    * wraps it in a fresh Dataset, so optimization, physical planning, AQE
    * and execution re-run under the caller's current conf. Analysis bakes
    * some conf into the plan (the session time zone in every
    * time-zone-aware expression; ANSI mode and case sensitivity in
    * resolution and casts), so those keys join the plan's version. Other
    * conf read only during analysis is frozen at first build.
    */
  private val analysisConf = Seq("spark.sql.session.timeZone",
    "spark.sql.ansi.enabled", "spark.sql.caseSensitive")

  private def memoized(name: String,
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => {
      def analyzed = fn(s, d).queryExecution.analyzed
      org.apache.spark.sql.GraftBridge.ofRows(s, Caches.value(s, d, s"q:$name",
        analysisConf.map(s.conf.get).mkString(","))(analyzed).getOrElse(analyzed))
    }

  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, memoized(name, fn), Some(oracle))

  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, memoized(name, fn), None)
}
