package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Freshness of the driver-side memos: the fingerprint behind Q's plan
  * memo follows a write one level below the data dir, a Q built under one
  * session time zone re-analyzes under the next, and a rewritten data dir
  * replaces a Q's plan instead of adding one.
  */
class MemoFreshnessSpec extends SparkSpec {

  test("fingerprintCached re-lists after an append inside a table directory") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("graft-memo-fp").toString
    Seq(1, 2, 3).toDF("x").write.parquet(s"$d/t.parquet")
    val before = Caches.fingerprintCached(spark, d)
    assert(Caches.fingerprintCached(spark, d) === before)
    Seq(4).toDF("x").write.mode("append").parquet(s"$d/t.parquet")
    val after = Caches.fingerprintCached(spark, d)
    assert(after !== before)
    assert(after === Caches.fingerprint(spark, d))
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
      Caches.preparedPlans.keys.filter(_.startsWith("q:q_test_memo_rewrite:"))
    Seq(1, 2, 3).toDF("x").write.parquet(s"$d/t.parquet")
    assert(q.fn(spark, d).count() === 3L)
    Seq(4, 5, 6, 7, 8).toDF("x").write.mode("overwrite")
      .parquet(s"$d/t.parquet")
    assert(q.fn(spark, d).as[Int].collect().sorted.toSeq === (4 to 8))
    assert(slots.size === 1)
  }
}
