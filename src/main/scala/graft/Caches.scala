package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry for session-scoped persisted frames: the shingle, vector,
  * model, pair and histogram frames that several queries or passes read,
  * and the analyzed plans [[Q]] re-wraps per call. One rule covers every
  * shared frame.
  *
  *  - Slot: `name:dir`, one per logical frame over one data dir. Builder
  *    parameters (a cap, a `k`) belong in `name`.
  *  - Version: the dir's [[stamp]], listed on every access. Q's prepared
  *    plans take the same version, so frames and plans go stale together.
  *    Staleness contract: the stamp's. A table file replaced in `dir`, or
  *    a file or partition added, removed or replaced inside a table
  *    directory one level down, is a new version. A rewrite inside a
  *    partition of a partitioned table (two levels down) is not, and such
  *    a caller must invalidate via [[clear]].
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
  private[graft] val preparedPlans = TrieMap.empty[String,
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]

  /** The version of everything the registry keeps over `dir`. */
  private def version(s: SparkSession, dir: String): String =
    stamp(s, dir).getOrElse("missing")

  /** Memoize the ANALYZED LOGICAL PLAN of query `name` over `dir` — the
    * prepared-statement registry Q uses. Only the plan is kept, never a
    * Dataset: a Dataset freezes its lazy QueryExecution/executedPlan at
    * first forcing, which made plan inspection order- and conf-dependent.
    * Callers re-wrap the plan per invocation (GraftBridge.ofRows), so
    * every call gets a fresh QueryExecution — optimization, physical
    * planning, AQE and execution re-run under the current conf. The slot
    * is `q:name:<sessionUUID>:dir` and holds one plan, for one version: the
    * dir's stamp plus `conf`, the conf values analysis bakes into the
    * plan. A new version replaces the old plan in place, so the map is
    * bounded by the slots in use. Entries hold no storage: dropping one
    * loses only analysis work.
    */
  def preparedPlan(s: SparkSession, dir: String, name: String, conf: String)(
      mk: => DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val slot = s"q:$name:${org.apache.spark.sql.GraftBridge.sessionUUID(s)}:$dir"
    val v = s"${version(s, dir)}:$conf"
    preparedPlans.get(slot) match {
      case Some((seen, plan)) if seen == v => plan
      case _ =>
        val plan = mk.queryExecution.analyzed
        preparedPlans.put(slot, (v, plan))
        plan
    }
  }

  /** Test seam: the storage level [[frame]] persists at instead of
    * `MEMORY_AND_DISK`. CachesSpec sets DISK_ONLY to replay the worst
    * eviction case (every byte on disk, none in storage memory);
    * production never sets it.
    */
  @volatile private[graft] var levelOverride: Option[StorageLevel] = None

  /** The shared frame `name` over data dir `dir`, built and persisted on a
    * miss after the slot's superseded frame is unpersisted. `build`
    * returns the frame unpersisted. Synchronized so a replacement never
    * races a build; builders that read other slots re-enter on the same
    * thread.
    */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame)
      : DataFrame = {
    val slot = s"$name:$dir"
    val v = version(s, dir)
    synchronized {
      frames.get(slot) match {
        case Some((seen, df)) if seen == v => df
        case old =>
          old.foreach { case (_, df) => df.unpersist() }
          frames.remove(slot)
          val df = build.persist(
            levelOverride.getOrElse(StorageLevel.MEMORY_AND_DISK))
          frames.put(slot, (v, df))
          df
      }
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

  /** Unpersist and forget every registered frame and plan (idempotent;
    * safe while queries are not running). Call between runs or before
    * session stop.
    */
  def clear(): Unit = synchronized {
    frames.foreach { case (_, (_, df)) =>
      try df.unpersist() catch { case _: Exception => () }
    }
    frames.clear()
    preparedPlans.clear()
  }

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
}
