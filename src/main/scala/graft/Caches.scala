package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for session-scoped persisted frames: the shingle, vector,
  * model and pair frames that several queries read, and the prepared plans
  * [[Q]] re-wraps per call. One rule covers every shared frame.
  *
  *  - Slot: `name:dir`, one per logical frame over one data dir. Builder
  *    parameters (a cap, a `k`) belong in `name`.
  *  - Version: [[fingerprintCached]] of the dir, the same version that
  *    keys Q's prepared plans, so frames and plans go stale together.
  *  - Level: `MEMORY_AND_DISK`, applied here once. Under memory pressure
  *    Spark spills such a frame to disk instead of dropping it.
  *  - Replacement: a slot holds one frame. A new version first unpersists
  *    the superseded frame and only then builds and persists the new one.
  *    Spark's cache matches plans by path, not by file contents, so the
  *    old entry must go before a rebuilt plan over a rewritten dir can
  *    read the new files.
  *
  * [[clear]] unpersists everything.
  */
object Caches {

  private val frames = TrieMap.empty[String, (String, DataFrame)]
  private val values = TrieMap.empty[String, Any]
  private[graft] val preparedPlans = TrieMap.empty[String,
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]

  /** Memoize the ANALYZED LOGICAL PLAN in `slot` — the prepared-statement
    * registry Q uses. Only the plan is kept, never a Dataset: a Dataset
    * freezes its lazy QueryExecution/executedPlan at first forcing, which
    * made plan inspection order- and conf-dependent (r16 ADVICE: the
    * shuffle-budget audit counted 0 exchanges on frames another test had
    * already forced under AQE). Callers re-wrap the plan per invocation
    * (GraftBridge.ofRows), so every call gets a fresh QueryExecution —
    * optimization, physical planning, AQE and execution re-run under the
    * current conf. A slot holds one plan, for one `version`: the input
    * fingerprint and the conf that analysis bakes into the plan (Q adds
    * time zone, ANSI mode and case sensitivity). A new version replaces the
    * old plan in place, so the map is bounded by the slots in use. Entries
    * hold no storage: dropping one loses only analysis work.
    */
  def preparedPlan(slot: String, version: String)(mk: => DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    preparedPlans.get(slot) match {
      case Some((v, plan)) if v == version => plan
      case _ =>
        val plan = mk.queryExecution.analyzed
        preparedPlans.put(slot, (version, plan))
        plan
    }

  /** Memoize a driver-side computed value (e.g. the exact medians a profile
    * call derives from its persisted histogram) under `key`.
    */
  def memo[T](key: String)(mk: => T): T =
    values.getOrElseUpdate(key, mk).asInstanceOf[T]

  /** Test seam: the storage level [[frame]] persists at instead of
    * `MEMORY_AND_DISK`. CachesSpec sets DISK_ONLY to replay the worst
    * eviction case (every byte on disk, none in storage memory);
    * production never sets it.
    */
  @volatile private[graft] var levelOverride: Option[StorageLevel] = None

  /** The shared frame `name` over data dir `dir`: slot `name:dir`,
    * versioned by the dir's [[fingerprintCached]]. `build` returns the
    * frame unpersisted; the registry persists it.
    */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame)
      : DataFrame =
    frame(s"$name:$dir", fingerprintCached(s, dir))(build)

  /** The frame in `slot` at `version`, built and persisted on a miss after
    * the slot's superseded frame is unpersisted. A slot whose name already
    * identifies its input (a plan's semantic hash) passes a constant
    * version. Synchronized so a replacement never races a build; builders
    * that read other slots re-enter on the same thread.
    */
  def frame(slot: String, version: String)(build: => DataFrame): DataFrame =
    synchronized {
      frames.get(slot) match {
        case Some((v, df)) if v == version => df
        case old =>
          old.foreach { case (_, df) => df.unpersist() }
          frames.remove(slot)
          val df = build.persist(
            levelOverride.getOrElse(StorageLevel.MEMORY_AND_DISK))
          frames.put(slot, (version, df))
          df
      }
    }

  /** Force-materialize every registered frame (full scan via count) and
    * return per-key wall seconds, key-sorted. Bench calls this between its
    * untimed warm-up pass and the timed passes so a shared frame's build
    * cost can never land on whichever timed consumer happens to run first
    * — the attribution-stability guard the round-7 review asked for. On an
    * already-warm registry each entry is a cache scan (~tens of ms), and
    * the returned timings document exactly that in BENCH_FULL.json.
    */
  def warm(): Seq[(String, Double)] = frames.toSeq.sortBy(_._1).map {
    case (k, (_, df)) =>
      val t0 = System.nanoTime()
      try df.count() catch { case _: Exception => () }
      k -> (System.nanoTime() - t0) / 1e9
  }

  /** Per-frame materialized cache size in bytes, key-sorted — the root
    * InMemoryRelation's post-materialization stats (call after [[warm]];
    * 0 for a frame whose cache lookup missed). This is the registry's
    * actual executor-storage footprint, answering the 100 TB memory
    * question ("what do the shared frames HOLD?") with a measured number
    * in the bench artifact instead of a plan-reading argument.
    */
  def bytes(): Seq[(String, Long)] = frames.toSeq.sortBy(_._1).map {
    case (k, (_, df)) =>
      val b = df.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.stats.sizeInBytes.toLong
      }.getOrElse(0L)
      k -> b
  }

  /** Per-frame storage level, key-sorted — the eviction-safety audit
    * surface: a frame whose level lacks the disk tier would be silently
    * DROPPED (and rebuilt) under memory pressure; one with it degrades to
    * disk reads. CachesSpec pins useDisk across the registry.
    */
  def levels(): Seq[(String, StorageLevel)] =
    frames.toSeq.sortBy(_._1).map { case (k, (_, df)) => k -> df.storageLevel }

  /** Unpersist and forget every registered frame (idempotent; safe while
    * queries are not running). Call between runs or before session stop.
    */
  def clear(): Unit = synchronized {
    frames.foreach { case (_, (_, df)) =>
      try df.unpersist() catch { case _: Exception => () }
    }
    frames.clear()
    values.clear()
    preparedPlans.clear()
    fingerprints.clear()
  }

  /** Content fingerprint of a data directory: file count + max
    * modification time + total bytes over a recursive Hadoop listing.
    * Callers go through [[fingerprintCached]].
    */
  private[graft] def fingerprint(spark: SparkSession, dir: String): String = {
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0L; var maxMod = 0L; var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        n += 1; bytes += st.getLen
        if (st.getModificationTime > maxMod) maxMod = st.getModificationTime
      }
      s"$n:$maxMod:$bytes"
    } catch { case _: Exception => "na" }
  }

  private val fingerprints = TrieMap.empty[String, (String, String)]

  /** First-level stamp of a path: one driver-side `listStatus` giving the
    * name, modification time and length of each direct child (of the file
    * itself when the path is a file), name-sorted. No recursion and no
    * Spark job. What it catches: any change to a direct child, including a
    * file added, removed or replaced inside a child directory, because
    * that bumps the child directory's mtime (a rewritten `activity_id=…`
    * partition, a new partition, an overwrite or an append). What it does
    * not catch: a change two or more levels down, whose bump stops at a
    * grandchild. `None` when the path cannot be listed (e.g. missing).
    */
  def stamp(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(fs.listStatus(p)
        .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
        .sorted.mkString("|"))
    } catch { case _: Exception => None }

  /** [[fingerprint]] memoized per (session, dir) behind the dir's [[stamp]]:
    * the full recursive listing re-runs only when the stamp changes, so a
    * hit costs one `listStatus`. It versions every Q's prepared plan and
    * every shared [[frame]], so a recursive listing per query construction
    * or frame access would be a per-call driver fixed cost. Staleness
    * contract: the stamp's. A
    * table file replaced in `dir`, or a file or partition added, removed or
    * replaced inside a table directory one level down, re-lists. A rewrite
    * inside a partition of a partitioned table (two levels down) does not,
    * and such a caller must invalidate via [[clear]].
    */
  def fingerprintCached(spark: SparkSession, dir: String): String =
    stamp(spark, dir).fold(fingerprint(spark, dir)) { st =>
      val mapKey = s"${org.apache.spark.sql.GraftBridge.sessionUUID(spark)}:$dir"
      fingerprints.get(mapKey) match {
        case Some((seen, fp)) if seen == st => fp
        case _ =>
          val fp = fingerprint(spark, dir)
          fingerprints.put(mapKey, (st, fp))
          fp
      }
    }
}
