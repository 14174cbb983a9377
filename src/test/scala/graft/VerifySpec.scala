package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness dump never leaves an older run's rows where the oracle
  * reads: a query whose builder throws must end up missing, not stale.
  */
class VerifySpec extends SparkSpec {

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(dir).iterator()).asScala
      .filter(_.toString.endsWith(".parquet")).toSeq

  test("dump deletes a failing query's old result and writes a good one") {
    val out = Files.createTempDirectory("verify-spec")
    val broken = out.resolve("q_broken")
    val ss = spark
    import ss.implicits._
    Seq(1, 2, 3).toDF("x").coalesce(1).write.parquet(broken.toString)
    assert(parquetFiles(broken).nonEmpty)
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_broken" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_good" -> ((s, _) => s.range(5).toDF("id")))
    Verify.dump(spark, sfDir, out.toString, queries)
    assert(!Files.exists(broken), "a failed query kept its old dump")
    val good = out.resolve("q_good")
    assert(parquetFiles(good).size == 1)
    assert(spark.read.parquet(good.toString).as[Long].collect().sorted
      .toSeq == (0L until 5L))
    assert(!spark.sparkContext.isStopped)
  }
}
