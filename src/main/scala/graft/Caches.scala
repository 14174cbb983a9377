package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry of driver-side memos over data dirs, one per live
  * `SparkSession`. It holds two kinds of memo under one rule: persisted
  * frames (the shingle, vector, model, pair and histogram frames that
  * several queries or passes read, the athlete-sized silver tables the
  * façade serves, and its per-run summaries of the series) and values
  * that hold no storage (the analyzed plans
  * [[Q]] re-wraps per call, the schemas [[Tables]] infers, the façade's
  * per-second series table).
  *
  *  - Slot: `name:dir`, one per logical memo over one dir in one session.
  *    Builder parameters (a cap, a `k`) belong in `name`.
  *  - Version: the dir's [[stamp]], listed on every access and before a
  *    build (a write racing the build leaves the memo at an older
  *    version), plus any conf a value bakes in. A table file replaced in
  *    `dir`, or a file or partition added, removed or replaced inside a
  *    table directory one level down, is a new version. A rewrite two levels down is not, and
  *    such a caller must invalidate via [[clear]]. A dir that cannot be
  *    listed versions a frame as `missing`; a value is then neither built
  *    nor kept.
  *  - Session: a session's memos serve that session only, so a frame or
  *    plan built in one session is never handed to another. Once a
  *    session's `SparkContext` has stopped, its registry is dropped at the
  *    next access; nothing is unpersisted on a stopped context.
  *  - Level: a frame persists at `MEMORY_AND_DISK`, so under memory
  *    pressure Spark spills it to disk instead of dropping it.
  *  - Replacement: a slot holds one memo. A new version first unpersists a
  *    superseded frame and only then builds the new memo. Spark's cache
  *    matches plans by path, not by file contents, so the old entry must go
  *    before a rebuilt plan over a rewritten dir can read the new files.
  *
  * [[clear]] unpersists and forgets everything.
  */
object Caches {

  /** A frame the registry persisted, and unpersists on replacement. */
  private final case class Persisted(df: DataFrame)

  private type Slots = TrieMap[String, (String, AnyRef)]

  private val sessions = TrieMap.empty[SparkSession, Slots]

  private def dropStopped(): Unit =
    sessions.filterInPlace { case (s, _) => !s.sparkContext.isStopped }

  /** Test seam: the storage level [[frame]] persists at instead of
    * `MEMORY_AND_DISK`. CachesSpec sets DISK_ONLY to replay the worst
    * eviction case (every byte on disk, none in storage memory);
    * production never sets it.
    */
  @volatile private[graft] var levelOverride: Option[StorageLevel] = None

  /** The memo in `slot` of `s`'s registry at version `v`, built on a miss
    * after the slot's superseded memo is released. Synchronized so a
    * replacement never races a build; builders that read other slots
    * re-enter on the same thread.
    */
  private def memo[T <: AnyRef](s: SparkSession, slot: String, v: String)(
      build: => T): T = synchronized {
    dropStopped()
    val slots = sessions.getOrElseUpdate(s, TrieMap.empty)
    slots.get(slot) match {
      case Some((seen, x)) if seen == v => x.asInstanceOf[T]
      case old =>
        old.foreach { case (_, x) => release(x) }
        slots.remove(slot)
        val x = build
        slots.put(slot, (v, x))
        x
    }
  }

  private def release(x: AnyRef): Unit = x match {
    case Persisted(df) => df.unpersist()
    case _ =>
  }

  /** The shared frame `name` over data dir `dir`. `build` returns the frame
    * unpersisted; the registry persists it.
    */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame)
      : DataFrame =
    persisted(s, dir, name, stamp(s, dir).getOrElse("missing"))(build)

  /** The shared frame `name` over `dir`, or `None` when `dir` cannot be
    * listed (nothing is then built or kept): the frame form of [[value]].
    */
  private[graft] def optionalFrame(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): Option[DataFrame] =
    stamp(s, dir).map(persisted(s, dir, name, _)(build))

  private def persisted(s: SparkSession, dir: String, name: String, v: String)(
      build: => DataFrame): DataFrame =
    memo(s, s"$name:$dir", v)(Persisted(build.persist(
      levelOverride.getOrElse(StorageLevel.MEMORY_AND_DISK)))).df

  /** The value `name` over `dir` (a plan, a schema, a resolved table),
    * versioned by the dir's stamp and `conf`, or `None` when `dir` cannot
    * be listed.
    */
  private[graft] def value[T <: AnyRef](s: SparkSession, dir: String,
      name: String, conf: String = "")(build: => T): Option[T] =
    stamp(s, dir).map(st => memo(s, s"$name:$dir", s"$st:$conf")(build))

  /** Every memo of every live session as (session, slot, value). */
  private[graft] def memos(): Seq[(SparkSession, String, AnyRef)] =
    synchronized {
      dropStopped()
      sessions.toSeq.flatMap { case (s, slots) =>
        slots.toSeq.map { case (k, (_, x)) => (s, k, x) } }
    }

  private def frames(): Seq[(String, DataFrame)] =
    memos().collect { case (_, k, Persisted(df)) => k -> df }.sortBy(_._1)

  /** Force-materialize every registered frame (full scan via count) and
    * return per-key wall seconds, key-sorted. Bench calls this between its
    * untimed warm-up pass and the timed passes, so a shared frame's build
    * cost never lands on whichever timed consumer runs first. A frame that
    * cannot be built raises here.
    */
  def warm(): Seq[(String, Double)] = frames().map { case (k, df) =>
    val t0 = System.nanoTime()
    df.count()
    k -> (System.nanoTime() - t0) / 1e9
  }

  /** Per-frame materialized cache size in bytes, key-sorted: the root
    * InMemoryRelation's post-materialization stats (call after [[warm]];
    * 0 for a frame whose cache lookup missed), the executor storage the
    * shared frames hold.
    */
  def bytes(): Seq[(String, Long)] = frames().map { case (k, df) =>
    k -> df.queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.stats.sizeInBytes.toLong
    }.getOrElse(0L)
  }

  /** Per-frame storage level, key-sorted — the eviction-safety audit
    * surface: a frame whose level lacks the disk tier would be silently
    * DROPPED (and rebuilt) under memory pressure; one with it degrades to
    * disk reads. CachesSpec pins useDisk across the registry.
    */
  def levels(): Seq[(String, StorageLevel)] =
    frames().map { case (k, df) => k -> df.storageLevel }

  /** Unpersist and forget every memo of every session (idempotent; safe
    * while queries are not running).
    */
  def clear(): Unit = synchronized {
    dropStopped()
    sessions.values.foreach(_.values.foreach { case (_, x) => release(x) })
    sessions.clear()
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
