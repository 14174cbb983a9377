package graft

import java.nio.file.Files

import graft.api.Graft
import graft.ingest.SilverWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The memo registry belongs to a session: a frame built in one session is
  * never handed to another, and a stopped session's frames and plans go
  * with it, so the session built after it gets fresh ones.
  */
class SessionScopeSpec extends SparkSpec {

  private val q = Q.noOracle("q_test_session_scope") { (s, d) =>
    s.read.parquet(s"$d/t.parquet")
  }

  private def newDir(rows: Long): String = {
    val d = Files.createTempDirectory("graft-session-scope").toString
    spark.range(rows).write.parquet(s"$d/t.parquet")
    d
  }

  test("a frame built in a new session has that session") {
    val d = newDir(3)
    val other = spark.newSession()
    def shared(s: org.apache.spark.sql.SparkSession) =
      Caches.frame(s, d, "test-scope")(s.read.parquet(s"$d/t.parquet"))
    try {
      assert(shared(spark).sparkSession eq spark)
      assert(shared(other).sparkSession eq other)
      assert(shared(other).count() === 3L)
      assert(Caches.levels().count(_._1 == s"test-scope:$d") === 2)
    } finally Caches.clear()
  }

  test("façade tables: one slot per session, whatever the Graft count") {
    val root = Files.createTempDirectory("graft-session-silver").toString
    val path = s"$root/activities"
    val s = spark
    import s.implicits._
    SilverWriter.upsertByPartition(Schemas.conform(
      Seq((1L, java.sql.Date.valueOf("2026-06-01"), 5.0)).toDF(
        "activity_id", "activity_date", "total_distance_km"), "activities"),
      path)
    val slot = s"silver:$path"
    def holders(): Seq[SparkSession] =
      Caches.memos().collect { case (h, `slot`, _) => h }
    def cached(h: SparkSession): StorageLevel =
      h.read.option("graft.frame", "silver").parquet(path).storageLevel
    val other = spark.newSession()
    try {
      new Graft(spark, root).trainingLoad.acwr().collect()
      new Graft(spark, root).trends.weeklyVolume().collect()
      assert(holders().size === 1 && (holders().head eq spark))
      new Graft(other, root).trainingLoad.acwr().collect()
      assert(holders().size === 2 && holders().exists(_ eq other))
      assert(Caches.levels().count(_._1 == slot) === 2)
      assert(Seq(spark, other).forall(h => cached(h).useDisk))
    } finally Caches.clear()
    assert(holders().isEmpty)
    assert(!Caches.levels().exists(_._1 == slot))
    assert(Seq(spark, other).forall(h => cached(h) == StorageLevel.NONE))
  }

  test("a stopped session's memos go with it; the rebuilt session builds afresh") {
    val d = newDir(5)
    val first = TestSession.spark
    def shared(s: org.apache.spark.sql.SparkSession) =
      Caches.frame(s, d, "test-scope")(s.read.parquet(s"$d/t.parquet"))
    assert(shared(first).count() === 5L)
    assert(q.fn(first, d).count() === 5L)
    assert(Caches.memos().exists(_._1 eq first))

    first.stop()
    val rebuilt = TestSession.spark
    assert(rebuilt ne first)
    assert(Caches.levels().isEmpty)
    assert(Caches.memos().isEmpty)

    val s = rebuilt
    import s.implicits._
    try {
      val fresh = shared(rebuilt)
      assert(fresh.sparkSession eq rebuilt)
      assert(fresh.as[Long].collect().sorted.toSeq ===
        rebuilt.read.parquet(s"$d/t.parquet").as[Long].collect().sorted.toSeq)
      assert(q.fn(rebuilt, d).count() === 5L)
      val plans = Caches.memos().filter(_._2.startsWith("q:q_test_session_scope:"))
      assert(plans.size === 1 && (plans.head._1 eq rebuilt))
    } finally Caches.clear()
  }
}
