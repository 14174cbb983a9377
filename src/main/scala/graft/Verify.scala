package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs under
  * [[GraftSession]], the config Bench times.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_VERIFY_ONLY=q_a,q_b : dev-only subset dump (single-query parity
    // checks); unset = the driver's full dump.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    new java.io.File(outDir).mkdirs()
    writeOracleJson(outDir, only)
    dump(spark, sfDir, outDir, SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) })
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` as one parquet file.
    * The query's previous dump is deleted before the query is built, so a
    * query that fails leaves no rows behind: the oracle reads every parquet
    * file under `<name>` without a `_SUCCESS` check and must see "missing",
    * never an older run's result. A failure is logged and the dump goes on.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Iterable[(String, (SparkSession, String) => DataFrame)])
      : Unit = queries.foreach { case (name, fn) =>
    val dir = Paths.get(outDir, name)
    if (Files.exists(dir)) Files.walk(dir)
      .sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    try {
      fn(spark, sfDir).coalesce(1).write.parquet(dir.toString)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
    }
  }

  private def writeOracleJson(outDir: String,
                              only: Option[Set[String]]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs get a subset oracle_sql.json: a plain check_oracle.py
    // over a GRAFT_VERIFY_ONLY dump would otherwise FAIL every omitted
    // query as "spark result missing" (dev-only seam; the driver's full
    // run has `only` unset, so its json is unchanged).
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
