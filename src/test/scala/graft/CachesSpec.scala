package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Memory-pressure behavior and freshness of the shared-frame registry.
  * Three claims, the first two load-bearing at 100 TB:
  *
  *  1. Every registered frame's storage level carries the DISK tier, so
  *     under executor memory pressure Spark EVICTS TO DISK instead of
  *     dropping blocks (MEMORY_ONLY would silently re-trigger the whole
  *     quadratic build per consumer) — and instead of OOMing, because
  *     the unified memory manager can always shrink storage to the
  *     spill floor when every block is disk-backed.
  *  2. The worst case of that degradation — EVERYTHING evicted, zero
  *     bytes in storage memory — is byte-identical and green: the same
  *     consumer chain replayed over a DISK_ONLY registry returns the
  *     exact rows of the MEMORY_AND_DISK run. (`spark.memory.fraction`
  *     is fixed at SparkContext creation, so a genuinely starved session
  *     can't be built inside the shared test JVM; forcing DISK_ONLY
  *     through the [[Caches.levelOverride]] seam reproduces the
  *     post-eviction state exactly — every read pays the disk path.)
  *  3. A data dir whose files are replaced outside Spark is read anew:
  *     each slot holds one frame, and the new version replaces it.
  */
class CachesSpec extends SparkSpec {

  // representative consumer chain: the capped n-gram pair index is the
  // registry's heaviest build (quadratic candidate emission) and feeds
  // four plan references; its query output covers postings + pairs.
  private def chain(): Array[org.apache.spark.sql.Row] =
    SparkEntry.queries("q_dedup_ngram_capped")(spark, sfDir).collect()

  test("every registered shared frame is eviction-safe (disk tier present)") {
    Caches.clear()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        fn(spark, sfDir) } // register the full registry
      val levels = Caches.levels()
      assert(levels.nonEmpty)
      val memoryOnly = levels.collect {
        case (k, lvl) if !lvl.useDisk => s"$k -> $lvl"
      }
      assert(memoryOnly.isEmpty,
        s"frames that would be DROPPED (not spilled) under pressure: " +
          memoryOnly.mkString("; "))
      // one key form: every slot is `<name>:<data dir>`
      val offForm = levels.map(_._1).filterNot(k =>
        k.endsWith(s":$sfDir") && k.length > sfDir.length + 1)
      assert(offForm.isEmpty, s"slots not keyed <name>:$sfDir: $offForm")
    } finally Caches.clear()
  }

  test("full eviction degrades gracefully: DISK_ONLY registry is byte-identical") {
    Caches.clear()
    val warm = try chain() finally Caches.clear()
    Caches.levelOverride = Some(StorageLevel.DISK_ONLY)
    try {
      val evicted = chain()
      // the frames really are disk-only (zero storage-memory residency)
      val lvls = Caches.levels()
      assert(lvls.nonEmpty && lvls.forall { case (_, l) =>
        l.useDisk && !l.useMemory })
      assert(evicted.toSeq === warm.toSeq)
    } finally {
      Caches.levelOverride = None
      Caches.clear()
    }
  }

  test("cache-bytes accounting reports a positive materialized footprint") {
    Caches.clear()
    try {
      chain()
      Caches.warm()
      val bytes = Caches.bytes()
      assert(bytes.nonEmpty)
      // the delegate postings frame is non-empty at any sf — its
      // footprint must register (the pair frame may legitimately be
      // 0 rows ≈ 0 bytes)
      val postings = bytes.filter(_._1.startsWith("capped-dpostings"))
      assert(postings.nonEmpty && postings.forall(_._2 > 0L),
        s"postings frame reported no bytes: $bytes")
      assert(bytes.map(_._2).sum > 0L)
    } finally Caches.clear()
  }

  test("a rewritten data dir replaces each shared frame in its slot") {
    val s = spark
    import s.implicits._
    val d = Files.createTempDirectory("graft-caches-slot")
    val table = d.resolve("t.parquet")
    def base: DataFrame =
      Caches.frame(spark, d.toString, "test-base")(spark.read.parquet(table.toString))
    def doubled: DataFrame =
      Caches.frame(spark, d.toString, "test-doubled")(base.select(($"x" * 2).as("x")))
    def rows(df: DataFrame): Seq[Int] = df.as[Int].collect().sorted.toSeq
    Caches.clear()
    try {
      Seq(1, 2, 3).toDF("x").write.parquet(table.toString)
      assert(rows(base) === Seq(1, 2, 3))
      assert(rows(doubled) === Seq(2, 4, 6))
      // replace the table's files outside Spark: write elsewhere, delete, move
      val staged = Files.createTempDirectory("graft-caches-staged").resolve("t.parquet")
      Seq(4, 5, 6, 7, 8).toDF("x").write.parquet(staged.toString)
      Files.walk(table).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      Files.move(staged, table)
      assert(rows(doubled) === (8 to 16 by 2))
      assert(rows(base) === (4 to 8))
      val slots = Caches.levels().filter(_._1.startsWith("test-"))
      assert(slots.map(_._1) === Seq(s"test-base:$d", s"test-doubled:$d"))
      assert(slots.forall(_._2.useDisk), slots)
    } finally Caches.clear()
  }
}
