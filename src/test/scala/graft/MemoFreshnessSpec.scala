package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Freshness of the driver-side memos: a shared frame and a Q's plan
  * memo, both versioned by the data dir's stamp, follow a write one level
  * below the data dir; a Q built under one session time zone re-analyzes
  * under the next; and a rewritten data dir replaces a Q's plan instead of
  * adding one.
  */
class MemoFreshnessSpec extends SparkSpec {

  test("a shared frame and a Q follow an append inside a table directory") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("graft-memo-append").toString
    val table = s"$d/t.parquet"
    def shared =
      Caches.frame(spark, d, "test-append")(spark.read.parquet(table))
    val q = Q.noOracle("q_test_memo_append") { (s, d) =>
      s.read.parquet(s"$d/t.parquet")
    }
    def rows(df: DataFrame): Seq[Int] = df.as[Int].collect().sorted.toSeq
    def plan = Caches.memos().collect {
      case (_, k, p) if k.startsWith("q:q_test_memo_append:") => p }
    try {
      Seq(1, 2, 3).toDF("x").write.parquet(table)
      val before = shared
      assert(rows(q.fn(spark, d)) === Seq(1, 2, 3))
      val analyzed = plan
      // an unchanged dir keeps its version: the same frame, the same plan
      assert(shared eq before)
      assert(rows(q.fn(spark, d)) === Seq(1, 2, 3))
      assert(analyzed.size === 1 && (plan.head eq analyzed.head))
      Seq(4).toDF("x").write.mode("append").parquet(table)
      val after = shared
      assert(after ne before)
      assert(rows(after) === rows(spark.read.parquet(table)))
      assert(rows(after) === Seq(1, 2, 3, 4))
      assert(rows(q.fn(spark, d)) === Seq(1, 2, 3, 4))
      assert(plan.size === 1 && !(plan.head eq analyzed.head))
    } finally Caches.clear()
  }

  test("a Q re-analyzes when the session time zone changes") {
    val key = "spark.sql.session.timeZone"
    val q = Q.noOracle("q_test_session_tz") { (s, _) =>
      s.range(1).select(
        date_format(timestamp_seconds(lit(0L)), "yyyy-MM-dd HH:mm").as("t"))
    }
    val d = Files.createTempDirectory("graft-memo-tz").toString
    val original = spark.conf.get(key)
    try {
      spark.conf.set(key, "UTC")
      assert(q.fn(spark, d).head().getString(0) === "1970-01-01 00:00")
      spark.conf.set(key, "Asia/Tokyo")
      assert(q.fn(spark, d).head().getString(0) === "1970-01-01 09:00")
      spark.conf.set(key, "UTC")
      assert(q.fn(spark, d).head().getString(0) === "1970-01-01 00:00")
    } finally spark.conf.set(key, original)
  }

  test("a rewritten data dir replaces the Q's prepared plan in its slot") {
    val s = spark
    import s.implicits._
    val q = Q.noOracle("q_test_memo_rewrite") { (s, d) =>
      s.read.parquet(s"$d/t.parquet")
    }
    val d = Files.createTempDirectory("graft-memo-slot").toString
    def slots =
      Caches.memos().map(_._2).filter(_.startsWith("q:q_test_memo_rewrite:"))
    Seq(1, 2, 3).toDF("x").write.parquet(s"$d/t.parquet")
    assert(q.fn(spark, d).count() === 3L)
    Seq(4, 5, 6, 7, 8).toDF("x").write.mode("overwrite")
      .parquet(s"$d/t.parquet")
    assert(q.fn(spark, d).as[Int].collect().sorted.toSeq === (4 to 8))
    assert(slots.size === 1)
  }
}
